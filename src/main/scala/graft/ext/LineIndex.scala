package graft.ext

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted line-hash index for INCREMENTAL C4-style line dedup
  * ([[Dedup.dedupLines]]'s continuously-growing-corpus face): the md5
  * of every line ever kept, so each delivery removes lines the corpus
  * has already seen — plus its own internal repeats — without
  * rescanning history. Completes the line-dedup {batch, incremental}
  * pair the way [[FingerprintIndex]] does for whole-document exact
  * dedup; web boilerplate (nav bars, cookie banners, footers) recurs
  * across every delivery, which is exactly when the incremental form
  * pays.
  *
  * One parquet table under `path`: `lines/seg=<s>/` (lh) — just the
  * 128-bit line hash; the index never stores text. The per-delivery
  * check is one left-anti equi-join on lh (AQE broadcasts the smaller
  * side) plus the batch-internal first-occurrence window. Appends are
  * overwrite-per-segment ([[MinHashIndex.append]]'s exactly-once
  * contract), a replaying batch hides its own segment via `excludeSeg`,
  * and compaction folds committed history through [[SegmentedTable]].
  * A `_params` file pins (sep, minLen) — hashes are a pure function of
  * (line text), but WHICH substrings are lines is not, so a reader must
  * never mix splitting conventions. `sep` is hex-encoded in the file:
  * it is usually a newline, which a line-oriented params format cannot
  * hold raw.
  */
final class LineIndex private[ext] (val spark: SparkSession, val path: String,
                                    val sep: String, val minLen: Int)
    extends SegmentedIndex {

  private def indexed(excludeSeg: Option[String]): DataFrame = {
    val raw = spark.read.parquet(s"$path/lines")
    excludeSeg.fold(raw)(s => raw.where(col("seg") =!= s)).select("lh")
  }

  private def lineTable(docs: DataFrame, idCol: String, textCol: String,
                        prio: org.apache.spark.sql.Column = lit(0L)): DataFrame =
    docs
      .select(col(idCol).as("id"), col(textCol).as("t"), prio.as("prio"))
      .select(col("id"), col("prio"),
        posexplode(split(col("t"), java.util.regex.Pattern.quote(sep)))
          .as(Seq("idx", "line")))

  /** Clean a delivery against the indexed corpus: every line ≥ minLen
    * that the index has seen — or that occurred earlier in this batch —
    * is removed; short lines are exempt ([[Dedup.dedupLines]]'s
    * contract, including empty-text survival for gutted docs).
    *
    * @param excludeSeg a replaying micro-batch passes its OWN segment so
    *        its earlier (possibly partial) append is invisible and the
    *        replay reproduces the original cleaning.
    * @param prioCol optional per-document trust rank (smaller = more
    *        trusted): the WITHIN-batch keeper copy of a repeated line is
    *        elected by (prio, id, idx) — the d73/d81 election at line
    *        grain. ACROSS batches the indexed line always wins,
    *        regardless of a later copy's trust: the index stores only
    *        line hashes (no keeper identity to upgrade), the earlier
    *        keeper's batch directory is already published, and re-keeping
    *        boilerplate in a later trusted doc would double-publish the
    *        very text the operator exists to shed — the forward-only
    *        tension resolved the opposite way from the document faces,
    *        deliberately (DEDUP.md's matrix has the rationale).
    * @return (idCol, textCol) — the cleaned delivery
    */
  def dedupLinesBatch(newDocs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      excludeSeg: Option[String] = None,
                      prioCol: Option[String] = None): DataFrame = {
    val lines = lineTable(newDocs, idCol, textCol,
      prioCol.map(col).getOrElse(lit(0L)))
    // batch-internal keeper as a struct-min aggregate, not a window —
    // [[Dedup.dedupLines]]'s skew reasoning: a banner repeated across
    // the whole delivery collapses map-side instead of sorting through
    // one task
    val kept = lines.where(length(col("line")) >= minLen)
      .withColumn("lh", md5(col("line").cast("binary")))
      .join(indexed(excludeSeg), Seq("lh"), "left_anti")
      .groupBy("lh")
      .agg(min(struct(col("prio"), col("id"), col("idx"), col("line"))).as("k"))
      .select(col("k.id").as("id"), col("k.idx").as("idx"),
        col("k.line").as("line"))
      .unionByName(lines.where(length(col("line")) < minLen)
        .select(col("id"), col("idx"), col("line")))
    val rebuilt = kept.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          p => p.getField("line")),
        sep).as("clean"))
    newDocs.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("clean"), lit("")).as(textCol))
  }

  /** Index the eligible lines of (already-cleaned) documents into
    * segment `seg` — overwrite that segment only, so replays rewrite
    * instead of doubling. Feed this the OUTPUT of [[dedupLinesBatch]]:
    * its eligible lines are exactly the delivery's kept first
    * occurrences.
    */
  def append(cleanedDocs: DataFrame, seg: String, idCol: String = "doc_id",
             textCol: String = "text"): Unit = {
    lineTable(cleanedDocs, idCol, textCol)
      .where(length(col("line")) >= minLen)
      .select(md5(col("line").cast("binary")).as("lh"))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/lines/seg=$seg")
    SegmentedTable.refreshParent(spark, s"$path/lines")
  }

  /** Fold appended segments into `base` (rows preserved verbatim —
    * every cleaning identical before/after).
    */
  def compact(folds: Seq[String]): Seq[String] =
    SegmentedTable.compact(spark, s"$path/lines", "seg", "base", folds,
      Seq("lh"))
}

object LineIndex {

  /** Build and persist over a kept corpus (replaces anything at `path`). */
  def build(docs: DataFrame, path: String, sep: String = "\n",
            minLen: Int = 15, idCol: String = "doc_id",
            textCol: String = "text"): LineIndex = {
    SegmentedTable.deleteRecursively(new java.io.File(path))
    Files.createDirectories(Paths.get(path))
    val idx = new LineIndex(docs.sparkSession, path, sep, minLen)
    idx.append(docs, seg = "base", idCol = idCol, textCol = textCol)
    Files.write(Paths.get(path, "_params"),
      s"sepHex=${sep.getBytes(StandardCharsets.UTF_8).map("%02x".format(_)).mkString}\nminLen=$minLen\n"
        .getBytes(StandardCharsets.UTF_8))
    idx
  }

  /** Open a persisted index; splitting convention comes from `_params`. */
  def load(spark: SparkSession, path: String): LineIndex = {
    val params = SegmentedTable.readParams(path)
    val sep = new String(
      params("sepHex").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      StandardCharsets.UTF_8)
    new LineIndex(spark, path, sep, params("minLen").toInt)
  }
}
