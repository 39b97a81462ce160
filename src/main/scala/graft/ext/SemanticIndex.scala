package graft.ext

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted semantic-dedup corpus index + incremental dedup against
  * it — the embedding twin of [[MinHashIndex]], closing the
  * {batch, incremental} × {text MinHash, embedding SemDeDup} matrix:
  * "does anything in this delivery semantically duplicate what we
  * already kept?" without re-comparing history.
  *
  * Structure under `path` (build-once / dedup-many):
  *
  *   - `cents/` (cid, cvec): the FROZEN k-means centroids trained at
  *     build time ([[Similarity.ivfCentroids]] — the FAISS
  *     add-after-train contract; absent when nlist <= 1, the exact
  *     all-pairs degenerate mode);
  *   - `members/seg=<s>/cell=<c>/` (id, vec): kept vectors, partitioned
  *     by append segment AND cluster cell.
  *
  * The cell sub-partitioning is the scale lever: a batch's cross-dedup
  * reads ONLY the member directories of the cells the batch touches
  * (partition-filter pruning, the store's pb/tb precedent), so with
  * nlist scaled to the corpus (SemDeDup trains ~0.1%·|corpus| clusters,
  * Abbas et al. 2023, arXiv:2303.09540) per-batch cost is
  * |batch| × avg cell size — never corpus size. Appends are
  * overwrite-per-segment ([[MinHashIndex.append]] contract) so replayed
  * micro-batches are idempotent, and a replaying batch excludes its own
  * segment so verdicts reproduce ([[dedupBatch]]'s `excludeSeg`).
  *
  * `normalized=true` (the production path) stores unit vectors so each
  * pair costs one dot product; `normalized=false` keeps raw vectors and
  * the plain-cosine spelling a DuckDB oracle reproduces bit-for-bit —
  * with nlist=1 that makes the whole pipeline exactly checkable (the
  * d21/d14/s07 exact-twin pattern; driver gates d23/d24).
  */
final class SemanticIndex private[ext] (val spark: SparkSession,
                                        val path: String, val nlist: Int,
                                        val normalized: Boolean)
    extends SegmentedIndex {

  private def prepare(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    if (normalized) Similarity.corpusNormalized(emb, idCol, vecCol)
    else Similarity.corpus(emb, idCol, vecCol)

  /** (id, vec, cell) for a batch, assigned against the frozen centroids
    * (constant cell 0 in the nlist<=1 degenerate mode).
    */
  def assign(emb: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val c = prepare(emb, idCol, vecCol)
    if (nlist <= 1) c.withColumn("cell", lit(0L))
    else Similarity.assignToNearest(c, spark.read.parquet(s"$path/cents"))
  }

  /** Member rows, optionally excluding one segment (partition filter —
    * the excluded segment's directories are never listed) and pruned to
    * a set of cells (partition filter again — only the touched cells'
    * directories are read; `None` reads all cells).
    */
  private def members(excludeSeg: Option[String],
                      cells: Option[Seq[Long]]): DataFrame = {
    val raw = spark.read.parquet(s"$path/members")
    val seg = excludeSeg.fold(raw)(s => raw.where(col("seg") =!= s))
    cells.fold(seg)(cs => seg.where(col("cell").isin(cs.map(x => x: Any): _*)))
      .select(col("id"), col("cell"), col("vec"))
  }

  /** Cross dedup of a new batch against the indexed corpus: one row per
    * (batch vector, indexed vector) pair with cosine >= tau, compared
    * within the batch vector's cell only. The batch's distinct cells are
    * collected driver-side (≤ nlist longs — the touched-partition-set
    * precedent of [[graft.store.MetricStore]]) and pushed as a `cell`
    * partition filter, so the member scan is bounded by the batch's
    * cell footprint. A vector re-delivered under an indexed id matches
    * itself at cos 1.0, like any other dup.
    *
    * @param excludeSeg segment to hide — a replaying micro-batch passes
    *        its OWN segment so its earlier (possibly partial) append is
    *        invisible and the replay reproduces the original verdicts.
    * @return (vec_id, dup_of, cos)
    */
  def dedupBatch(newEmb: DataFrame, tau: Double,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 excludeSeg: Option[String] = None): DataFrame = {
    dedupAssigned(assign(newEmb, idCol, vecCol), tau, excludeSeg)
  }

  /** [[dedupBatch]] over a PRE-ASSIGNED (id, vec, cell) frame — the
    * streaming wiring assigns its batch once and threads that frame
    * through cross dedup, the in-batch rule, and the append, instead of
    * paying normalize + centroid scoring three times per micro-batch.
    * Pass a cached frame: the touched-cell collect materializes it here.
    */
  def dedupAssigned(assigned: DataFrame, tau: Double,
                    excludeSeg: Option[String] = None): DataFrame = {
    val touched = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val sim = Similarity.pairSim(normalized, col("x.vec"), col("y.vec"))
    assigned.as("x")
      .join(members(excludeSeg, Some(touched)).as("y"),
        col("x.cell") === col("y.cell"))
      .select(col("x.id").as("vec_id"), col("y.id").as("dup_of"),
        sim.as("cos"))
      .where(col("cos") >= tau)
  }

  /** Write a batch's assigned vectors into segment `seg`, sub-partitioned
    * by cell. Overwrites that segment only — appending is adding a NEW
    * segment; replaying the same segment is an idempotent rewrite. Like
    * [[MinHashIndex.append]], no dedup-cleanliness promise: append after
    * dropping the batch's duplicates if the index must stay clean (the
    * streaming wiring does exactly that).
    */
  def append(newEmb: DataFrame, seg: String, idCol: String = "vec_id",
             vecCol: String = "embedding"): Unit =
    appendAssigned(assign(newEmb, idCol, vecCol), seg)

  /** [[append]] for a pre-assigned (id, vec, cell) frame (see
    * [[dedupAssigned]]).
    */
  def appendAssigned(assigned: DataFrame, seg: String): Unit = {
    assigned
      .select(col("id"), col("cell"), col("vec"))
      // cluster by cell BEFORE the partitioned write: without it every
      // task writes a file into every cell it touches (tasks × cells
      // files — at 1000 executors over 100k cells that is 10^8 files
      // per segment); clustered, the segment holds one file per
      // non-empty cell (the MetricStore mergedTouched precedent)
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$path/members/seg=$seg")
    SegmentedTable.refreshParent(spark, s"$path/members")
  }

  /** Fold appended segments into `base`, keeping the cell sub-layout —
    * file and listing cost bounded by compaction cadence, not stream
    * age ([[SegmentedTable.compact]]; rows preserved verbatim so every
    * dedupBatch verdict is identical before/after). Run quiesced; never
    * fold a segment a restarted stream could replay.
    */
  def compact(folds: Seq[String]): Seq[String] =
    SegmentedTable.compact(spark, s"$path/members", "seg", "base", folds,
      Seq("id", "cell", "vec"), subPartition = Seq("cell"))
}

object SemanticIndex {

  /** Build and persist the index over a kept corpus, replacing whatever
    * lived at `path` (stale segments from an older index must not
    * survive into the new centroid space). Trains centroids over the
    * corpus (skipped when nlist <= 1), then appends the corpus as
    * `seg=base`.
    */
  def build(emb: DataFrame, path: String, nlist: Int,
            normalized: Boolean = true, idCol: String = "vec_id",
            vecCol: String = "embedding"): SemanticIndex = {
    SegmentedTable.deleteRecursively(new java.io.File(path))
    Files.createDirectories(Paths.get(path))
    val spark = emb.sparkSession
    val idx = new SemanticIndex(spark, path, nlist, normalized)
    if (nlist > 1) {
      val c = if (normalized) Similarity.corpusNormalized(emb, idCol, vecCol)
              else Similarity.corpus(emb, idCol, vecCol)
      Similarity.ivfCentroids(c, nlist)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/cents")
    }
    idx.append(emb, seg = "base", idCol = idCol, vecCol = vecCol)
    Files.write(Paths.get(path, "_params"),
      s"nlist=$nlist\nnormalized=${if (normalized) 1 else 0}\n"
        .getBytes(StandardCharsets.UTF_8))
    idx
  }

  /** Open a persisted index; parameters come from `_params`, never the
    * caller (a reader must not mix centroid/normalization spaces).
    */
  def load(spark: SparkSession, path: String): SemanticIndex = {
    val params = SegmentedTable.readParams(path)
    new SemanticIndex(spark, path, params("nlist").toInt,
      params("normalized").toInt == 1)
  }

}
