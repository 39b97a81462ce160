package graft.ext

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Frames

/** Persisted MinHash-LSH corpus index + incremental dedup against it —
  * the operation a continuously-growing training corpus runs on every
  * delivery: "is anything in this batch a near-dup of what we already
  * kept?". Build once over the kept corpus, then each batch joins its
  * own band hashes against the index instead of re-shingling history.
  *
  * Three parquet tables under `path` (build-once / dedup-many, the
  * [[Similarity.savePqIndex]] precedent):
  *
  *   - `shingles/` (id, h): hashed shingle dictionary rows — read only
  *     by the exact-verify stage;
  *   - `sigs/` (id, sig): k-component minhash signatures — read only by
  *     the estimate prefilter;
  *   - `bands/` (id, band, bh): LSH band buckets — the join key.
  *
  * Each table is partitioned by a caller-named `seg` string: the build
  * writes `seg=base`, each incremental append overwrites its OWN segment
  * directory. Overwrite-per-segment makes appends IDEMPOTENT — a
  * replayed micro-batch (foreachBatch is at-least-once) rewrites the
  * same directory instead of doubling the corpus rows, which is what
  * lets [[graft.streaming.StreamingDedup]] claim exactly-once index
  * maintenance. A `_params` file (n, k, bands) pins the hash space:
  * every derived table is a pure function of (doc text, n, k, bands),
  * so a reader can never mix spaces.
  *
  * Scale shape: all three tables are corpus-sized parquet, but every
  * join's OTHER side is the new batch (small) — the band join is an
  * equi-join on (band, bh) that AQE broadcasts when the batch side is
  * small, and the corpus-side signature/shingle reads arrive
  * semi-join-pruned by the candidate set. Nothing rescans history
  * beyond the collided band buckets.
  */
final class MinHashIndex private[ext] (val spark: SparkSession, val path: String,
                                       val n: Int, val k: Int, val bands: Int,
                                       val sigMode: String = "classic")
    extends PrioritizedIndex {

  /** The index's signature builder — `classic` ([[Dedup.minhashSignatures]],
    * k rehashes per shingle; the measured default — see that method's
    * cost verdict) or `oph` ([[Dedup.minhashSignaturesOPH]], one hash
    * per shingle + rotation densification, for hash-bound regimes).
    * Part of the persisted `_params` hash space: every signature the
    * index ever stores or compares against MUST come from this one
    * builder, so batch-side callers derive theirs here too.
    */
  def signaturesOf(sh: DataFrame): DataFrame =
    if (sigMode == "oph") Dedup.minhashSignaturesOPH(sh, k)
    else Dedup.minhashSignatures(sh, k)

  /** Estimate-prefilter margin matched to the signature mode: the OPH
    * estimator's effective sample for a short doc is its filled-bucket
    * count, not k — the wider gate trades a few extra exact verifies
    * for recall (see [[Dedup.minhashDuplicatesOPH]]).
    */
  def prefilterMargin: Double = if (sigMode == "oph") 0.3 else 0.2

  def signatures: DataFrame = table("sigs", Seq("id", "sig"), None)

  /** One index table, optionally excluding a segment — the exclusion is
    * a partition filter on `seg`, so the skipped segment's files are
    * never listed. A replayed micro-batch MUST exclude its own segment:
    * its first (failed-after-append) attempt's rows would otherwise
    * make every survivor look like an indexed duplicate the second time
    * around, flipping the replay's verdicts (the non-idempotence this
    * spec'd out: exactly-once needs reads to predate the batch's own
    * write).
    */
  private def table(name: String, cols: Seq[String],
                    excludeSeg: Option[String]): DataFrame = {
    val raw = spark.read.parquet(s"$path/$name")
    excludeSeg.fold(raw)(s => raw.where(col("seg") =!= s))
      .select(cols.map(col): _*)
  }

  /** Cross dedup of a new batch against the indexed corpus: one row per
    * (batch doc, indexed doc) pair with exact word-n-gram Jaccard ≥ tau.
    * Within-batch duplicates are NOT reported — compose with
    * [[Dedup.minhashDuplicates]] on the batch for those (see
    * [[graft.streaming.StreamingDedup]] for the combined rule).
    *
    * @param excludeSeg index segment to hide from this dedup's reads —
    *        a replaying micro-batch passes its OWN segment so its
    *        earlier (possibly partial) append is invisible and the
    *        replay reproduces the original verdicts.
    * @return (doc_id, dup_of, jaccard) — doc_id from the batch, dup_of
    *         from the index. A doc re-delivered under an id already in
    *         the index matches itself at jaccard 1.0 like any other dup.
    */
  def dedupBatch(newDocs: DataFrame, tau: Double,
                 idCol: String = "doc_id", textCol: String = "text",
                 excludeSeg: Option[String] = None,
                 shingled: Option[DataFrame] = None,
                 signatures: Option[DataFrame] = None): DataFrame = {
    // `shingled`/`signatures` = precomputed (id, h)/(id, sig) tables for
    // EXACTLY newDocs' ids (Dedup.minhashDuplicates' memo contract) — a
    // pipeline running several index operations over one batch shingles
    // it once and filters per stage (shingling is per-document, so
    // filtered-docs shingles == filtered shingles)
    val newSh = shingled.getOrElse(
      Dedup.hashShingles(Dedup.shingles(newDocs, n, idCol, textCol)))
    val newSigs = signatures.getOrElse(signaturesOf(newSh))
    val newBands = Dedup.bandHashes(newSigs, k, bands)
    val cands = newBands.as("x")
      .join(table("bands", Seq("id", "band", "bh"), excludeSeg).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    Dedup
      .verifyCandidates(cands,
        newSigs, table("sigs", Seq("id", "sig"), excludeSeg),
        newSh, table("shingles", Seq("id", "h"), excludeSeg), tau, k,
        margin = prefilterMargin)
      .select(col("a").as("doc_id"), col("b").as("dup_of"), col("jaccard"))
  }

  /** ONE fused near-dup pass for a batch: the cross-index check and the
    * in-batch pair search share candidate generation (the batch's band
    * hashes computed once, both collision joins landing in one
    * checkpointed candidates union), ONE signature-estimate prefilter
    * and ONE exact-Jaccard verify — instead of the two parallel chains
    * [[dedupBatch]] + [[Dedup.minhashDuplicates]] ran over the same
    * shingle/signature frames (guide §2.4: share scans; one verify per
    * logical join). The b side of the fused verify is a tagged union of
    * the batch and index tables — the tag (not the id) decides which
    * table resolves a candidate, so a doc re-delivered under an indexed
    * id still matches ITS OWN index row, never the batch clone's.
    *
    * Row-identity with the unfused pair: `cross=true` rows are exactly
    * [[dedupBatch]]'s (batch × index) verified pairs; `cross=false`
    * rows are in-batch verified pairs with a < b over ALL of newDocs —
    * banding, the signature estimate and exact Jaccard are per-PAIR
    * functions, so filtering both endpoints into any subset S of
    * newDocs yields exactly [[Dedup.minhashDuplicates]](S)'s pairs (the
    * gauntlet filters to the cross-check's survivors).
    *
    * The candidates union is localCheckpoint'd (eager, batch-bounded:
    * |batch| × collided buckets): the verify chain AND the b-side size
    * aggregate's candidate prune both consume it, and an uncached
    * candidate plan would re-run the band joins once per consumer. The
    * cut is held by `frames`, so the caller's scope must outlive every
    * read of the returned frame.
    *
    * @return (a, b, cross, jaccard) — a always from the batch; b from
    *         the index when cross, from the batch (with a < b) when not
    */
  def nearPairsUnion(newDocs: DataFrame, tau: Double, frames: Frames.Scope,
                     idCol: String = "doc_id", textCol: String = "text",
                     excludeSeg: Option[String] = None,
                     shingled: Option[DataFrame] = None,
                     signatures: Option[DataFrame] = None): DataFrame = {
    val newSh = shingled.getOrElse(
      Dedup.hashShingles(Dedup.shingles(newDocs, n, idCol, textCol)))
    val newSigs = signatures.getOrElse(signaturesOf(newSh))
    val newBands = Dedup.bandHashes(newSigs, k, bands)
    val crossCands = newBands.as("x")
      .join(table("bands", Seq("id", "band", "bh"), excludeSeg).as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.id").as("a"), col("y.id").as("b"), lit(true).as("cross"))
    val batchCands = newBands.as("x")
      .join(newBands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"), lit(false).as("cross"))
    val cands = frames.hold(crossCands.unionByName(batchCands).distinct().localCheckpoint())
    val sigsB = newSigs.select(col("id"), col("sig"), lit(false).as("cross"))
      .unionByName(table("sigs", Seq("id", "sig"), excludeSeg)
        .select(col("id"), col("sig"), lit(true).as("cross")))
    val shB = newSh.select(col("id"), col("h"), lit(false).as("cross"))
      .unionByName(table("shingles", Seq("id", "h"), excludeSeg)
        .select(col("id"), col("h"), lit(true).as("cross")))
    Dedup.verifyCandidates(cands, newSigs, sigsB, newSh, shB, tau, k,
      margin = prefilterMargin, bTag = Some("cross"), pruneSzB = true)
  }

  /** Write a batch's derived tables into segment `seg` of the index.
    * Overwrites that segment only: appending is adding a NEW segment;
    * replaying the same segment is a no-op-shaped rewrite (idempotent).
    * The index makes no id-uniqueness promise — append AFTER dropping
    * the batch's duplicates if the index must stay dedup-clean (the
    * streaming wiring does exactly that); duplicate ids merely yield
    * duplicate candidate pairs, collapsed by dedupBatch's DISTINCT.
    */
  def append(newDocs: DataFrame, seg: String,
             idCol: String = "doc_id", textCol: String = "text",
             shingled: Option[DataFrame] = None,
             signatures: Option[DataFrame] = None,
             prioCol: Option[String] = None): Unit = {
    // precomputed-table contract as in [[dedupBatch]]; caller owns the
    // lifecycle of injected tables (they are not released here)
    Frames.scoped { frames =>
      val sh = shingled.getOrElse(frames.hold(
        Dedup.hashShingles(Dedup.shingles(newDocs, n, idCol, textCol)).cache()))
      val sigs = signatures.getOrElse(frames.hold(signaturesOf(sh).cache()))
      sh.write.mode("overwrite").parquet(s"$path/shingles/seg=$seg")
      sigs.write.mode("overwrite").parquet(s"$path/sigs/seg=$seg")
      Dedup.bandHashes(sigs, k, bands)
        .write.mode("overwrite").parquet(s"$path/bands/seg=$seg")
      appendPriorities(newDocs, seg, idCol, prioCol)
      Seq("shingles", "sigs", "bands").foreach(t =>
        SegmentedTable.refreshParent(spark, s"$path/$t"))
    }
  }

  /** Fold appended segments into `base` across all three tables, so the
    * index's file and partition count is bounded by compaction cadence
    * instead of stream age — without this, the documented "per-batch
    * cost bounded by |batch| × collided buckets" claim quietly decays as
    * listing overhead grows with every micro-batch. Rows are preserved
    * verbatim (a fold moves them between partition directories), so
    * every dedupBatch verdict is identical before and after.
    *
    * Replay safety ([[SegmentedTable]] contract): only fold a segment a
    * restarted stream can no longer replay — use [[compactCommitted]]
    * when the segments come from [[graft.streaming.StreamingDedup]].
    * Run quiesced (no concurrent batch).
    *
    * @return segment names actually folded
    */
  def compact(folds: Seq[String]): Seq[String] = {
    val done = SegmentedTable.compact(spark, s"$path/shingles", "seg", "base",
      folds, Seq("id", "h"))
    SegmentedTable.compact(spark, s"$path/sigs", "seg", "base",
      folds, Seq("id", "sig"))
    SegmentedTable.compact(spark, s"$path/bands", "seg", "base",
      folds, Seq("id", "band", "bh"))
    compactPriorities(folds)
    done
  }
}

object MinHashIndex {

  /** Build and persist the index over a corpus, replacing whatever lived
    * at `path` (stale segments from an older index must not survive into
    * the new hash space). `prioCol = Some(c)` turns the priority table on for this
    * index's lifetime: every append stores (id, prio) alongside the
    * derived tables and [[MinHashIndex.priorities]] feeds the streaming
    * (priority, id) keeper election ([[graft.streaming.StreamingDedup]]).
    */
  def build(docs: DataFrame, path: String, n: Int = 3, k: Int = 128,
            bands: Int = 64, idCol: String = "doc_id",
            textCol: String = "text", sig: String = "classic",
            prioCol: Option[String] = None): MinHashIndex = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    require(sig == "classic" || sig == "oph", s"unknown signature mode: $sig")
    SegmentedTable.deleteRecursively(new java.io.File(path))
    Files.createDirectories(Paths.get(path))
    if (prioCol.isDefined) Files.createDirectories(Paths.get(path, "prio"))
    val idx = new MinHashIndex(docs.sparkSession, path, n, k, bands, sig)
    idx.append(docs, seg = "base", idCol = idCol, textCol = textCol,
      prioCol = prioCol)
    Files.write(Paths.get(path, "_params"),
      s"n=$n\nk=$k\nbands=$bands\nsig=$sig\n".getBytes(StandardCharsets.UTF_8))
    idx
  }

  /** Open a persisted index; the hash-space parameters come from its
    * `_params` file, never from the caller. Indexes written before the
    * `sig=` marker are classic-signature by construction.
    */
  def load(spark: SparkSession, path: String): MinHashIndex = {
    val params = SegmentedTable.readParams(path)
    val sig = params.getOrElse("sig", "classic")
    // mirror build's guard: a corrupted or future-mode marker must fail
    // fast here, not silently degrade to classic signatures that would
    // miss band collisions against the stored tables
    require(sig == "classic" || sig == "oph", s"unknown signature mode: $sig")
    new MinHashIndex(spark, path, params("n").toInt, params("k").toInt,
      params("bands").toInt, sig)
  }
}
