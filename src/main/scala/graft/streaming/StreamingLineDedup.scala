package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.LineIndex
import graft.ops.Frames

/** Streaming C4-style line dedup: continuous boilerplate removal from a
  * document stream against a persisted [[LineIndex]] — every delivery
  * sheds lines the kept corpus has already seen (and its own internal
  * repeats), then its kept lines join the index. The
  * [[StreamingDedup]] wiring at line grain, minus the pair machinery
  * line dedup doesn't need: no candidate joins, no components — one
  * anti-join and one window per batch.
  *
  * Per micro-batch:
  *
  *   1. clean against the index ([[LineIndex.dedupLinesBatch]]) with
  *      the batch's OWN segment excluded — a replayed batch
  *      (foreachBatch is at-least-once) reads the index as it stood
  *      before its first attempt's append and reproduces the original
  *      cleaning;
  *   2. cleaned documents land in `outPath/batch=<batchId>/`
  *      (overwrite-by-batch-directory — exactly-once output);
  *   3. the cleaning's kept eligible lines are appended as index
  *      segment `b<batchId>` (overwrite-per-segment — exactly-once
  *      maintenance).
  *
  * State lives entirely in the index parquet — no streaming state
  * store; restarts resume from the checkpoint with nothing to rebuild,
  * and the per-batch cost is |batch lines| against an index read that
  * AQE prunes to the anti-join's build side.
  */
object StreamingLineDedup {

  /** Start the filter on a streaming `docs` frame with (doc_id: long,
    * text: string) columns. The index at `indexPath` must already exist
    * ([[LineIndex.build]] — an empty seed corpus is fine; the splitting
    * convention must be pinned before any delivery).
    *
    * @param compactEvery fold appended index segments into base every
    *        this many batches ([[LineIndex.compactCommitted]] — only
    *        segments strictly older than the checkpoint's newest
    *        commit, so replay safety is preserved). 0 disables.
    * @param prioCol optional per-document trust column on the stream
    *        (smaller = more trusted): the within-batch keeper copy of a
    *        repeated line is elected by (prio, id, idx); across batches
    *        the indexed line always wins — see
    *        [[graft.ext.LineIndex.dedupLinesBatch]] for why the line
    *        face resolves the late-trusted-copy tension the opposite
    *        way from [[StreamingDedup]]'s document faces.
    */
  def start(docs: DataFrame, indexPath: String, outPath: String,
            checkpoint: String, compactEvery: Int = 0,
            prioCol: Option[String] = None): StreamingQuery =
    StreamingDedup.run(docs.select(StreamingDedup.docCols(prioCol): _*),
        checkpoint, compactEvery)(
      processBatch(_, _, indexPath, outPath, prioCol))(
      s => LineIndex.load(s, indexPath).compactCommitted(checkpoint): Unit)

  /** One batch of the rule above — public so a batch backfill can apply
    * the IDENTICAL cleaning outside a stream.
    */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
                   outPath: String, prioCol: Option[String] = None): Unit =
    Frames.scoped { frames =>
      val spark = batch.sparkSession
      val idx = LineIndex.load(spark, indexPath)
      val clean = frames.hold(idx
        .dedupLinesBatch(batch.select(StreamingDedup.docCols(prioCol): _*),
          excludeSeg = Some(s"b$batchId"), prioCol = prioCol)
        .cache())
      clean.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      idx.append(clean, seg = s"b$batchId")
    }
}
