package graft.ext

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted per-segment n-gram statistics for INCREMENTAL corpus-wide
  * heavy hitters ([[TextAnalysis.topNgrams]]'s continuously-growing-
  * corpus face): boilerplate / template / stopword-phrase discovery
  * over everything ever ingested, without rescanning history. Completes
  * the heavy-hitter {batch, incremental} pair the way
  * [[FingerprintIndex]] does for exact dedup and [[LineIndex]] for line
  * dedup — the thresholds a curation pipeline tunes from this report
  * (line-clean minLen, span df caps) drift as the corpus grows, which
  * is exactly when the incremental form pays.
  *
  * One parquet table under `path`: `grams/seg=<s>/` (gram, tf, df) —
  * each segment is that delivery's EXACT partial aggregate. Both tf and
  * df are additive across segments because deliveries are DISJOINT
  * document sets (the foreachBatch contract every index in this family
  * shares), so the merged statistics are exact, not sketched: heavy
  * hitters need no approximation when the partials are kept per batch.
  * [[TextAnalysis.topNgramsSketch]] stays the bounded-memory
  * single-pass alternative WITHIN one scan; this index is the
  * cross-delivery accumulator.
  *
  * Scale shape: append cost is one map-side-combinable aggregate of the
  * batch (batch-vocabulary-sized output); the query-time merge is a
  * groupBy-sum over segment partials (map-side combinable again) topped
  * by TakeOrdered(k) — no full sort, nothing driver-sized. Appends are
  * overwrite-per-segment ([[MinHashIndex.append]]'s exactly-once
  * contract: a replayed batch rewrites its own segment instead of
  * double-counting), and [[SegmentedTable]] compaction folds committed
  * segments verbatim — duplicate gram rows across folded segments stay
  * separate rows, the query-time sum is unchanged. A `_params` file
  * pins the gram order n: counts are a pure function of (text, n), so
  * a reader must never mix orders.
  */
final class NgramIndex private[ext] (val spark: SparkSession,
                                     val path: String, val n: Int)
    extends SegmentedIndex {

  private def gramStats(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    TextAnalysis.ngramOccurrences(docs, n, idCol, textCol)
      .groupBy("gram")
      .agg(count(lit(1)).as("tf"), countDistinct(col("id")).as("df"))

  /** Index a delivery's n-gram statistics into segment `seg` —
    * overwrite that segment only, so replays rewrite instead of
    * double-counting. The caller feeds each document to exactly one
    * segment (the foreachBatch contract); re-delivering a document in
    * a different segment would double its counts, exactly as
    * re-scanning it twice would in the batch operator.
    */
  def append(docs: DataFrame, seg: String, idCol: String = "doc_id",
             textCol: String = "text"): Unit = {
    gramStats(docs, idCol, textCol)
      .write.mode("overwrite").parquet(s"$path/grams/seg=$seg")
    SegmentedTable.refreshParent(spark, s"$path/grams")
  }

  /** The merged corpus-wide statistics: one row per gram with exact
    * total tf/df across every segment.
    */
  def merged: DataFrame =
    spark.read.parquet(s"$path/grams")
      .groupBy("gram")
      .agg(sum("tf").as("tf"), sum("df").as("df"))

  /** Corpus-wide top-K heavy hitters, identical to
    * [[TextAnalysis.topNgrams]] over the union of every indexed
    * delivery: (tf desc, gram asc) total order, TakeOrdered plan.
    */
  def topK(k: Int = 50): DataFrame =
    merged.orderBy(col("tf").desc, col("gram").asc).limit(k)

  /** Fold appended segments into `base` (rows preserved verbatim —
    * every merged statistic identical before/after).
    */
  def compact(folds: Seq[String]): Seq[String] =
    SegmentedTable.compact(spark, s"$path/grams", "seg", "base", folds,
      Seq("gram", "tf", "df"))
}

object NgramIndex {

  /** Build and persist over a corpus (replaces anything at `path`). */
  def build(docs: DataFrame, path: String, n: Int = 2,
            idCol: String = "doc_id", textCol: String = "text"): NgramIndex = {
    SegmentedTable.deleteRecursively(new java.io.File(path))
    Files.createDirectories(Paths.get(path))
    val idx = new NgramIndex(docs.sparkSession, path, n)
    idx.append(docs, seg = "base", idCol = idCol, textCol = textCol)
    Files.write(Paths.get(path, "_params"),
      s"n=$n\n".getBytes(StandardCharsets.UTF_8))
    idx
  }

  /** Open a persisted index; the gram order comes from `_params`. */
  def load(spark: SparkSession, path: String): NgramIndex = {
    val params = SegmentedTable.readParams(path)
    new NgramIndex(spark, path, params("n").toInt)
  }
}
