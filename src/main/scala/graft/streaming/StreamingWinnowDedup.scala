package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{Dedup, WinnowIndex}
import graft.ops.Frames

/** Streaming winnow-fingerprint dedup: the [[StreamingDedup]] rule on
  * the positional sub-token signal — a document is kept only if its
  * winnow-hash containment reaches tau against neither the kept corpus
  * (persisted [[WinnowIndex]]) nor an earlier keeper in its own batch.
  * Catches the cross-delivery near-dups that share long char runs but
  * tokenize differently (the d54 argument), continuously.
  *
  * Per micro-batch: cross verdicts via [[WinnowIndex.dedupBatch]] with
  * the batch's OWN segment excluded (replay-idempotent reads); in-batch
  * keepers via [[Dedup.winnowPairs]] → connected components → min-id;
  * survivors appended as segment `b<batchId>` and verdicts written to
  * `verdictPath/batch=<batchId>/` — both overwrite-by-directory, so
  * index maintenance and output are exactly-once under at-least-once
  * foreachBatch. State is the index parquet only.
  */
object StreamingWinnowDedup {

  /** Start the filter on a streaming (doc_id: long, text: string)
    * frame. The index at `indexPath` must already exist
    * ([[WinnowIndex.build]]).
    *
    * @param compactEvery fold appended segments into base every this
    *        many batches ([[WinnowIndex.compactCommitted]] — only
    *        segments strictly older than the newest commit). 0 disables.
    */
  def start(docs: DataFrame, indexPath: String, verdictPath: String,
            checkpoint: String, tau: Double = 0.5,
            maxHashFreq: Long = 64, compactEvery: Int = 0,
            prioCol: Option[String] = None): StreamingQuery =
    StreamingDedup.run(docs.select(StreamingDedup.docCols(prioCol): _*),
        checkpoint, compactEvery)(
      processBatch(_, _, indexPath, verdictPath, tau, maxHashFreq, prioCol))(
      s => WinnowIndex.load(s, indexPath).compactCommitted(checkpoint): Unit)

  /** One batch of the rule — public so a batch backfill can apply the
    * IDENTICAL keeper semantics outside a stream.
    *
    * `prioCol` upgrades both keeper rules to the (priority, id)
    * election — [[StreamingDedup.processBatch]]'s semantics verbatim
    * (indexed survivor stays keeper against equal-or-lower priority; a
    * strictly more trusted late clone is kept and becomes keeper for
    * its batch forward, no index rewrite; in-batch components elect
    * the (priority, id)-minimum — [[Dedup.crossKeepers]] and
    * [[Dedup.batchKeepers]], the rules every face shares).
    * The index must carry priorities ([[WinnowIndex.build]] `prioCol`).
    */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
                   verdictPath: String, tau: Double,
                   maxHashFreq: Long = 64,
                   prioCol: Option[String] = None): Unit = Frames.scoped { frames =>
    val spark = batch.sparkSession
    val idx = WinnowIndex.load(spark, indexPath)
    idx.requirePriorities(prioCol)
    val docs = frames.hold(batch.select(StreamingDedup.docCols(prioCol): _*).cache())
    val rawCross = idx.dedupBatch(docs, tau, maxHashFreq,
      excludeSeg = Some(s"b$batchId"))
    val cross = frames.hold(Dedup.crossKeepers(rawCross, docs, prioCol,
      idx.priorities(excludeSeg = Some(s"b$batchId"))).cache())
    val remaining = docs.join(cross.select("doc_id"), Seq("doc_id"), "left_anti")
    val pairs = Dedup.winnowPairs(remaining, k = idx.k, w = idx.w,
      tau = tau, maxHashFreq = maxHashFreq)
    val batchDups = frames.hold(Dedup.batchKeepers(pairs, remaining, prioCol).cache())
    val survivors = frames.hold(remaining
      .join(batchDups.select("doc_id"), Seq("doc_id"), "left_anti")
      .cache())
    // verdict BEFORE append (append's refreshByPath invalidates
    // `cross`'s cache, whose plan reads the index; a later verdict
    // write would recompute it)
    cross.withColumn("verdict", lit("dup_index"))
      .unionByName(batchDups.withColumn("verdict", lit("dup_batch")))
      .unionByName(survivors.select(col("doc_id"),
        lit(null).cast("long").as("dup_of"), lit("kept").as("verdict")))
      .select("doc_id", "verdict", "dup_of")
      .write.mode("overwrite").parquet(s"$verdictPath/batch=$batchId")
    idx.append(survivors, seg = s"b$batchId", prioCol = prioCol)
  }
}
