package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.NgramIndex

/** Streaming corpus-wide n-gram statistics: continuous heavy-hitter
  * maintenance over a document stream against a persisted
  * [[NgramIndex]] — every delivery's EXACT (gram, tf, df) partial
  * lands as its own segment, so the merged corpus-wide statistics stay
  * exact (deliveries are disjoint document sets; tf and df are both
  * additive). The [[StreamingLineDedup]] wiring minus the cleaning:
  * statistics maintenance has no per-document verdict, so the stream's
  * product IS the index plus an optional per-delivery top-K snapshot
  * (the boilerplate watchlist a curation pipeline re-reads as its
  * thresholds drift with corpus growth).
  *
  * Per micro-batch:
  *
  *   1. the batch's partial aggregate is appended as index segment
  *      `b<batchId>` (overwrite-per-segment — a replayed batch
  *      [foreachBatch is at-least-once] rewrites its own segment
  *      instead of double-counting: exactly-once maintenance);
  *   2. if `snapshotPath` is set, the post-append corpus-wide top-K
  *      lands in `snapshotPath/batch=<batchId>/`
  *      (overwrite-by-batch-directory — exactly-once output).
  *
  * State lives entirely in the index parquet — no streaming state
  * store; restarts resume from the checkpoint with nothing to rebuild.
  * Per-batch append cost is one map-side-combinable aggregate of the
  * batch (batch-vocabulary-sized output), independent of corpus size
  * or stream age; the snapshot, when requested, adds one groupBy-sum
  * over segment partials topped by TakeOrdered(k).
  */
object StreamingNgramStats {

  /** Start the accumulator on a streaming `docs` frame with
    * (doc_id: long, text: string) columns. The index at `indexPath`
    * must already exist ([[NgramIndex.build]] — an empty seed corpus is
    * fine; the gram order n must be pinned before any delivery).
    *
    * @param snapshotPath write the corpus-wide top-K after each
    *        delivery under `batch=<batchId>/`; None skips the merged
    *        scan entirely (append-only mode)
    * @param compactEvery fold appended index segments into base every
    *        this many batches ([[NgramIndex.compactCommitted]] — only
    *        segments strictly older than the checkpoint's newest
    *        commit, so replay safety is preserved). 0 disables.
    */
  def start(docs: DataFrame, indexPath: String, checkpoint: String,
            snapshotPath: Option[String] = None, k: Int = 50,
            compactEvery: Int = 0): StreamingQuery =
    StreamingDedup.run(docs.selectExpr("doc_id", "text"), checkpoint,
        compactEvery)(
      processBatch(_, _, indexPath, snapshotPath, k))(
      s => NgramIndex.load(s, indexPath).compactCommitted(checkpoint): Unit)

  /** One delivery of the rule above — public so a batch backfill can
    * apply the IDENTICAL accumulation outside a stream.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
                   snapshotPath: Option[String] = None, k: Int = 50): Unit = {
    val idx = NgramIndex.load(batch.sparkSession, indexPath)
    idx.append(batch.selectExpr("doc_id", "text"), seg = s"b$batchId")
    snapshotPath.foreach(p =>
      idx.topK(k).write.mode("overwrite").parquet(s"$p/batch=$batchId"))
  }
}
