package graft.ext

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Frames

/** Persisted winnow-fingerprint index + incremental near-dup against it —
  * [[Dedup.winnowPairs]]' continuously-growing-corpus face, completing
  * the {batch, incremental} pair for the positional sub-token signal the
  * way [[MinHashIndex]] does for word shingles. Each delivery winnows
  * its own documents once and equi-joins the hash table; history is
  * never re-fingerprinted.
  *
  * Two parquet tables under `path` (segment lifecycle identical to
  * [[MinHashIndex]]/[[LineIndex]] — overwrite-per-segment appends ⇒
  * replay-idempotent, own-segment exclusion on replayed reads,
  * [[SegmentedTable]] compaction):
  *
  *   - `fps/seg=<s>/` (id, h): distinct winnow hashes per kept doc;
  *   - `sizes/seg=<s>/` (id, sz): per-doc distinct-hash counts, so
  *     verification never re-aggregates history.
  *
  * `_params` pins (k, w) — hashes are a pure function of (text, k, w).
  *
  * Scale shape: the per-batch join keys on the hash with the batch side
  * small (AQE broadcasts it); the frequency cap is computed over the
  * COMBINED doc frequency (index + batch) restricted to the batch's own
  * hashes — the index-side count arrives semi-join-pruned, so no stage
  * aggregates unrestricted history. Sizes use the UNCAPPED sets (the
  * `shingleIntersections` convention, mirrored by the oracle).
  */
final class WinnowIndex private[ext] (val spark: SparkSession, val path: String,
                                      val k: Int, val w: Int)
    extends PrioritizedIndex {

  private def table(name: String, cols: Seq[String],
                    excludeSeg: Option[String]): DataFrame = {
    val raw = spark.read.parquet(s"$path/$name")
    excludeSeg.fold(raw)(s => raw.where(col("seg") =!= s))
      .select(cols.map(col): _*)
  }

  def fingerprints: DataFrame = table("fps", Seq("id", "h"), None)
  def sizes: DataFrame = table("sizes", Seq("id", "sz"), None)

  private def fpOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    TextAnalysis.winnowFingerprints(docs, k = k, w = w,
        idCol = idCol, textCol = textCol)
      .toDF().select(col("doc_id").as("id"), col("h")).distinct()

  /** Cross near-dup of a new batch against the indexed corpus: one row
    * per (batch doc, indexed doc) pair with winnow containment
    * inter / min(na, nb) ≥ tau, under a combined-df ≤ maxHashFreq cap.
    * Within-batch duplicates are [[Dedup.winnowPairs]]' job on the
    * batch (the [[MinHashIndex.dedupBatch]] composition contract).
    *
    * @param excludeSeg a replaying micro-batch passes its OWN segment
    *        so its earlier (possibly partial) append is invisible.
    * @return (doc_id, dup_of, sim)
    */
  def dedupBatch(newDocs: DataFrame, tau: Double, maxHashFreq: Long = 64,
                 idCol: String = "doc_id", textCol: String = "text",
                 excludeSeg: Option[String] = None): DataFrame = {
    val newFp = fpOf(newDocs, idCol, textCol)
    val newSizes = newFp.groupBy("id").agg(count(lit(1)).as("sz"))
    // index rows touching the batch's hash set only (semi-join prune)
    val idxHit = table("fps", Seq("id", "h"), excludeSeg)
      .join(newFp.select("h").distinct(), Seq("h"))
    val dfCombined = idxHit.groupBy("h").agg(count(lit(1)).as("dfi"))
      .join(newFp.groupBy("h").agg(count(lit(1)).as("dfb")), Seq("h"), "right")
      .select(col("h"),
        (coalesce(col("dfi"), lit(0L)) + col("dfb")).as("df"))
    val cappedH = dfCombined.where(col("df") <= maxHashFreq).select("h")
    val inter = newFp.join(cappedH, "h").as("x")
      .join(idxHit.join(cappedH, "h").as("y"), col("x.h") === col("y.h"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(newSizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "na"), "a")
      .join(table("sizes", Seq("id", "sz"), excludeSeg)
        .withColumnRenamed("id", "b").withColumnRenamed("sz", "nb"), "b")
      .withColumn("sim",
        col("inter").cast("double") / least(col("na"), col("nb")).cast("double"))
      .where(col("sim") >= tau)
      .select(col("a").as("doc_id"), col("b").as("dup_of"), col("sim"))
  }

  /** Index a delivery's kept documents into segment `seg` — overwrite
    * that segment only (replays rewrite instead of doubling).
    */
  def append(keptDocs: DataFrame, seg: String, idCol: String = "doc_id",
             textCol: String = "text",
             prioCol: Option[String] = None): Unit = {
    // cache (not localCheckpoint): both writes share one fingerprint
    // computation
    Frames.scoped { frames =>
      val fp = frames.hold(fpOf(keptDocs, idCol, textCol).cache())
      fp.write.mode("overwrite").parquet(s"$path/fps/seg=$seg")
      fp.groupBy("id").agg(count(lit(1)).as("sz"))
        .write.mode("overwrite").parquet(s"$path/sizes/seg=$seg")
      appendPriorities(keptDocs, seg, idCol, prioCol)
      Seq("fps", "sizes").foreach(t =>
        SegmentedTable.refreshParent(spark, s"$path/$t"))
    }
  }

  /** Fold appended segments into `base` (rows preserved verbatim). */
  def compact(folds: Seq[String]): Seq[String] = {
    val a = SegmentedTable.compact(spark, s"$path/fps", "seg", "base", folds,
      Seq("id", "h"))
    val b = SegmentedTable.compact(spark, s"$path/sizes", "seg", "base", folds,
      Seq("id", "sz"))
    require(a == b, s"fps/sizes segment sets diverged: $a vs $b")
    compactPriorities(folds)
    a
  }
}

object WinnowIndex {

  /** Build and persist over a kept corpus (replaces anything at `path`).
    * `prioCol = Some(c)` turns the priority table on for this index's
    * lifetime ([[MinHashIndex.build]]'s contract).
    */
  def build(docs: DataFrame, path: String, k: Int = 8, w: Int = 8,
            idCol: String = "doc_id", textCol: String = "text",
            prioCol: Option[String] = None): WinnowIndex = {
    SegmentedTable.deleteRecursively(new java.io.File(path))
    Files.createDirectories(Paths.get(path))
    if (prioCol.isDefined) Files.createDirectories(Paths.get(path, "prio"))
    val idx = new WinnowIndex(docs.sparkSession, path, k, w)
    idx.append(docs, seg = "base", idCol = idCol, textCol = textCol,
      prioCol = prioCol)
    Files.write(Paths.get(path, "_params"),
      s"k=$k\nw=$w\n".getBytes(StandardCharsets.UTF_8))
    idx
  }

  /** Open a persisted index; the hash space comes from `_params`. */
  def load(spark: SparkSession, path: String): WinnowIndex = {
    val params = SegmentedTable.readParams(path)
    new WinnowIndex(spark, path, params("k").toInt, params("w").toInt)
  }
}
