package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{SegmentedTable, Similarity}

/** Streaming ANN index maintenance: grow a persisted IVF or PQ index
  * from a continuous embedding feed — the vector twin of
  * [[StreamingDedup]]'s corpus index. Each micro-batch is
  * assigned/encoded against the FROZEN centroids/codebooks
  * ([[Similarity.appendIvfIndex]] / [[Similarity.appendPqIndex]] — the
  * FAISS add-after-train contract) and landed as segment `b<batchId>`
  * of the membership/code table.
  *
  * Exactly-once for free: appends are overwrite-per-segment and read
  * nothing but the tiny frozen artifacts, so an at-least-once
  * foreachBatch replay rewrites its own segment byte-for-byte — no
  * own-segment read exclusion needed (unlike the dedup index, whose
  * batches READ the index they append to).
  *
  * `compactEvery = K` folds segments strictly older than the
  * checkpoint's newest commit into `base` every K batches
  * ([[SegmentedTable.foldable]] boundary — a replayable batch's
  * segment is never folded), bounding the index's file and
  * partition-listing footprint by compaction cadence instead of stream
  * age (`graft.tools.Soak dedup` quantifies the two regimes for the
  * same segment layout).
  *
  * Drift caveat carried from the append contract: quantization/cell
  * assignment quality degrades only as far as the feed drifts from the
  * training distribution — watch per-cell counts and rebuild when
  * skewed.
  */
object StreamingAnnIngest {

  /** Grow the IVF index at `indexPath` (must exist —
    * [[Similarity.saveIvfIndex]]) from a streaming (id, vector) frame.
    */
  def startIvf(emb: DataFrame, indexPath: String, checkpoint: String,
               idCol: String = "vec_id", vecCol: String = "embedding",
               compactEvery: Int = 0): StreamingQuery =
    StreamingDedup.run(emb.select(col(idCol), col(vecCol)), checkpoint,
        compactEvery)(
      (batch, batchId) => Similarity.appendIvfIndex(indexPath, batch,
        seg = s"b$batchId", idCol = idCol, vecCol = vecCol))(
      s => Similarity.compactIvfIndex(s, indexPath,
        SegmentedTable.foldable(checkpoint)): Unit)

  /** PQ twin of [[startIvf]] ([[Similarity.savePqIndex]] artifact). */
  def startPq(emb: DataFrame, indexPath: String, checkpoint: String,
              idCol: String = "vec_id", vecCol: String = "embedding",
              compactEvery: Int = 0): StreamingQuery =
    StreamingDedup.run(emb.select(col(idCol), col(vecCol)), checkpoint,
        compactEvery)(
      (batch, batchId) => Similarity.appendPqIndex(indexPath, batch,
        ixseg = s"b$batchId", idCol = idCol, vecCol = vecCol))(
      s => Similarity.compactPqIndex(s, indexPath,
        SegmentedTable.foldable(checkpoint)): Unit)
}
