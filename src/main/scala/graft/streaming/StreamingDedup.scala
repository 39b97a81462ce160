package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.ext.{Dedup, MinHashIndex}
import graft.ops.Frames

/** Streaming corpus construction: continuous near-dup filtering of a
  * document stream against a persisted [[MinHashIndex]] — the shape a
  * training-data pipeline actually runs: deliveries arrive continuously,
  * and a document is kept only if it near-dups neither the kept corpus
  * nor an earlier keeper in its own batch.
  *
  * Per micro-batch (the rule, deterministic given batch content):
  *
  *   1. cross dedup against the index ([[MinHashIndex.dedupBatch]]):
  *      any doc with an indexed near-dup is dropped (`dup_index`,
  *      dup_of = its smallest-id indexed match);
  *   2. within the remainder, exact-verified MinHash pairs →
  *      connected components → keep each cluster's min id
  *      (`dup_batch`, dup_of = cluster root) — the
  *      [[graft.ext.Curation.curateNearDups]] keeper rule. Components
  *      run on the REMAINDER: a doc whose only near-dup was itself
  *      dropped in step 1 survives (Jaccard is not transitive — it
  *      dups nothing that was kept);
  *   3. survivors are appended to the index as segment `b<batchId>` and
  *      verdicts land in `verdictPath/batch=<batchId>/` — BOTH
  *      overwrite-by-segment, so a replayed batch (foreachBatch is
  *      at-least-once) rewrites its own directories instead of
  *      double-appending: index maintenance is exactly-once.
  *
  * State lives entirely in the index parquet — no streaming state store,
  * so restarts resume from the checkpoint with nothing to rebuild and
  * the per-batch cost is bounded by |batch| × collided buckets, never
  * corpus size.
  */
object StreamingDedup {

  /** Start the filter on a streaming `docs` frame with (doc_id: long,
    * text: string) columns. The index at `indexPath` must already exist
    * ([[MinHashIndex.build]] over a non-empty seed corpus).
    *
    * @param compactEvery fold appended index segments into base every
    *        this many batches ([[MinHashIndex.compactCommitted]] —
    *        only segments strictly older than the checkpoint's newest
    *        commit, so replay safety is preserved). 0 disables; without
    *        it a long-lived stream accretes one segment directory per
    *        micro-batch per table and listing cost grows with stream
    *        AGE (`graft.tools.Soak dedup` measures both regimes). The fold
    *        runs inside foreachBatch ([[run]]).
    */
  def start(docs: DataFrame, indexPath: String, verdictPath: String,
            checkpoint: String, tau: Double = 0.5,
            compactEvery: Int = 0,
            prioCol: Option[String] = None): StreamingQuery =
    run(docs.select(docCols(prioCol): _*), checkpoint, compactEvery)(
      processBatch(_, _, indexPath, verdictPath, tau, prioCol))(
      s => MinHashIndex.load(s, indexPath).compactCommitted(checkpoint): Unit)

  /** The one stream runner of the streaming dedup family: an
    * `AvailableNow` foreachBatch query in `Update` mode on `checkpoint`
    * that skips empty micro-batches, runs `process` on the rest, and
    * every `compactEvery`-th batch (0 disables) runs `compact` AFTER the
    * batch's own append. That batch's segment is then the newest and is
    * never in the [[graft.ext.SegmentedTable.foldable]] set, because the
    * checkpoint has not committed the batch yet. The fold runs quiesced:
    * no concurrent reader of the index exists between batches.
    */
  private[streaming] def run(frame: DataFrame, checkpoint: String,
                             compactEvery: Int)(
      process: (DataFrame, Long) => Unit)(
      compact: SparkSession => Unit): StreamingQuery =
    frame.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          process(batch, batchId)
          if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
            compact(batch.sparkSession)
        }
      }
      .start()

  /** The text faces' input columns: (doc_id, text) plus the priority
    * column when the election is on.
    */
  private[streaming] def docCols(prioCol: Option[String]): Seq[Column] =
    col("doc_id") +: col("text") +: prioCol.map(col).toSeq

  /** One batch of the rule above — public so a batch backfill can apply
    * the IDENTICAL keeper semantics outside a stream (segment and
    * verdict directory names come from `batchId` either way).
    *
    * ==Priority keepers (`prioCol`)==
    *
    * With `prioCol = Some(c)` (the index must have been built with
    * priorities — [[MinHashIndex.build]] `prioCol`), the min-id keeper
    * convention upgrades to the (priority, id) election of
    * [[Dedup.exactGroupsPriority]] / [[Dedup.clusterKeepersPriority]]
    * — lower priority value wins, id breaks ties, NULL loses:
    *
    *   - IN-BATCH (step 2): each component's keeper is its
    *     (priority, id)-minimum member — d74's batch-face semantics
    *     verbatim, so a crawl page and its curated twin arriving in one
    *     delivery resolve to the curated copy regardless of id order.
    *   - CROSS (step 1), where exactly-once bends the batch-global
    *     rule: an INDEXED survivor stays keeper against an incoming
    *     clone of equal-or-lower priority (the clone drops,
    *     `dup_of` = the (priority, id)-minimum indexed match); an
    *     incoming clone STRICTLY more trusted than every indexed match
    *     survives, is appended, and is thereby the keeper for its
    *     batch FORWARD — the already-indexed copy is NOT retracted (no
    *     index rewrite, no emitted-verdict rewrite). This departs from
    *     the batch-global election (which would drop the indexed copy)
    *     deliberately: retracting would rewrite committed segments and
    *     verdict directories, breaking replay idempotence; downstream
    *     consumers see the trusted copy as keeper from its batch on,
    *     and future clones of either copy resolve to it via the same
    *     (priority, id)-min election.
    *
    * Scale shape: the election adds one equi-join of the batch's
    * candidate pairs against the index's (id, prio) table — the same
    * cost class as the band join (corpus-side scan, batch-side
    * broadcast, nothing quadratic) — and the in-batch election is
    * [[Dedup.clusterKeepersPriority]]'s map-side `min_by` partial
    * aggregate. Replays exclude the batch's own prio segment like
    * every other table, so the election's inputs predate the batch's
    * append and verdicts reproduce exactly.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
                   verdictPath: String, tau: Double,
                   prioCol: Option[String] = None): Unit = Frames.scoped { frames =>
    val spark = batch.sparkSession
    val idx = MinHashIndex.load(spark, indexPath)
    idx.requirePriorities(prioCol)
    val docs = frames.hold(batch.select(docCols(prioCol): _*).cache())
    // The batch is shingled and signed ONCE, and ONE fused
    // candidates-union pass ([[MinHashIndex.nearPairsUnion]], r15)
    // yields both verdict classes' pairs — previously the cross check
    // re-shingled the batch inside dedupBatch, the in-batch search
    // re-shingled the remainder, and the append re-shingled the
    // survivors: three shingle passes and two full verify chains over
    // one delivery. Shingling is per-document, so filtering the
    // cached tables per stage is exact.
    val docSh = frames.hold(Dedup.hashShingles(Dedup.shingles(docs, idx.n)).cache())
    val docSigs = frames.hold(idx.signaturesOf(docSh).cache())
    def idsOf(d: DataFrame)(t: DataFrame): DataFrame =
      t.join(d.select(col("doc_id").as("id")), Seq("id"), "left_semi")
    val nearPairs = frames.hold(idx.nearPairsUnion(docs, tau, frames,
      excludeSeg = Some(s"b$batchId"),
      shingled = Some(docSh), signatures = Some(docSigs)).cache())
    // 1. cross: smallest indexed match per dropped doc (the
    // (priority, id)-minimum match under the election). The batch's
    // own segment is excluded so a replay (at-least-once foreachBatch)
    // reads the index as it stood BEFORE its first attempt's append —
    // without this, replayed survivors match their own earlier rows
    // and the rewrite empties the segment.
    val rawCross = nearPairs.where(col("cross"))
      .select(col("a").as("doc_id"), col("b").as("dup_of"), col("jaccard"))
    val cross = frames.hold(Dedup.crossKeepers(rawCross, docs, prioCol,
      idx.priorities(excludeSeg = Some(s"b$batchId"))).cache())
    val remaining = docs.join(cross.select("doc_id"), Seq("doc_id"), "left_anti")

    // 2. in-batch: exact-verified pairs → components → keep the
    // min id (or the (priority, id)-minimum member under prioCol).
    // The pair set is the fused pass's in-batch rows with both
    // endpoints filtered into the remainder — banding/estimate/
    // Jaccard are per-pair functions, so this equals
    // minhashDuplicates(remaining) row-for-row.
    val pairs = nearPairs.where(!col("cross"))
      .join(remaining.select(col("doc_id").as("a")), Seq("a"), "left_semi")
      .join(remaining.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"), col("jaccard"))
    val batchDups = frames.hold(Dedup.batchKeepers(pairs, remaining, prioCol).cache())
    val survivors = frames.hold(remaining
      .join(batchDups.select("doc_id"), Seq("doc_id"), "left_anti")
      .cache())

    // 3. exactly-once effects: segment + verdict dirs keyed by
    // batchId — the VERDICT first: append's refreshByPath invalidates
    // `cross`'s cache (its plan reads the index tables), so a verdict
    // write after the append would silently recompute the cross-dedup
    // chain (the StreamingCorpusPipeline finding); both effects are
    // overwrite-keyed, so the order is immaterial to replay.
    cross.withColumn("verdict", lit("dup_index"))
      .unionByName(batchDups.withColumn("verdict", lit("dup_batch")))
      .unionByName(survivors.select(col("doc_id"),
        lit(null).cast("long").as("dup_of"), lit("kept").as("verdict")))
      .select("doc_id", "verdict", "dup_of")
      .write.mode("overwrite").parquet(s"$verdictPath/batch=$batchId")
    idx.append(survivors, seg = s"b$batchId",
      shingled = Some(idsOf(survivors)(docSh)),
      signatures = Some(idsOf(survivors)(docSigs)),
      prioCol = prioCol)
  }
}
