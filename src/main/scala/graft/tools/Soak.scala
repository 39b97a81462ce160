package graft.tools

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{FingerprintIndex, LineIndex, MinHashIndex, NgramIndex, SegmentedIndex, SemanticIndex, SpanIndex, WinnowIndex}
import graft.streaming.{StreamingCorpusPipeline, StreamingDedup, StreamingLineDedup, StreamingNgramStats, StreamingSemanticDedup, StreamingWinnowDedup}

/** Long-run soak for the streaming dedup family: drive N micro-batches
  * through one family's `processBatch` (the batch-backfill entry —
  * identical keeper semantics to the stream, precise per-batch walls)
  * and record, per batch, the wall time and the index's file/segment
  * counts — with and without segment compaction.
  *
  * The claim under test (the [[graft.ext.SegmentedTable]] contract):
  * per-batch cost is bounded by batch size, never corpus size or stream
  * AGE. Without compaction an index accretes one `seg=` directory per
  * batch per table, so file listing grows linearly with age and
  * eventually dominates small batches. With `compact()` folding
  * everything older than the previous batch every K batches (the
  * [[graft.ext.SegmentedTable.foldable]] boundary when the checkpoint
  * has committed through batch b-1), file counts — and so per-batch
  * wall — stay flat. The fold is timed on its own (`csec`): it costs
  * O(base + folds) every K batches, the LSM-style amortization.
  *
  * Files and segments are counted over every index the subject grows:
  * `files` is the parquet files under each index's directory, `segs`
  * the distinct `seg=` names across each index's tables, summed.
  *
  * Families:
  *
  *   - `dedup`: [[StreamingDedup]] on 12-word docs, 90% fresh / 5%
  *     seed dups / 5% in-batch dups;
  *   - `winnow`: [[StreamingWinnowDedup]], same mix;
  *   - `line`: [[StreamingLineDedup]] on 8-line docs (5 fresh lines,
  *     one seed boilerplate line, one in-batch banner, one short exempt
  *     line);
  *   - `ngram`: [[StreamingNgramStats]] with a top-K snapshot per batch,
  *     docs drawing ~20% of words from a 200-word hot pool;
  *   - `semantic`: [[StreamingSemanticDedup]] on 16-dim vectors, same
  *     mix, tau 0.95, 16 cells;
  *   - `pipeline`: [[StreamingCorpusPipeline]] — quality → exact →
  *     near-dup, 80% fresh / 10% quality fails / 5% seed dups / 5%
  *     in-batch dups.
  *
  * Prints one JSON line per batch:
  *   {"mode":"compact","batch":17,"sec":0.61,"csec":0.00,"files":42,"segs":3}
  * and a first-N vs last-N summary line per mode.
  *
  * Usage: runMain graft.tools.Soak <family> [batches] [docsPerBatch] [compactEvery|full]
  *   compactEvery 0 runs both modes (no-compact, then compact-every-5;
  *   `pipeline` adds line-stage-every-5). `pipeline` only: -N runs ONLY
  *   the line mode compacting every N, and `full` runs the d85 capstone
  *   config (every optional stage live) compacting every 5.
  */
object Soak {

  /** One mode's soak subject: the delivery for batch b, the per-batch
    * work, and the indexes it grows (folded, and counted).
    */
  private final case class Subject(deliver: Int => DataFrame,
                                   process: (DataFrame, Long) => Unit,
                                   indexes: Seq[SegmentedIndex])

  /** Deterministic hashed word stream per (salt, i): no RNG state is
    * carried between calls, so every run sees the same documents.
    */
  private def words(salt: Long, i: Long, n: Int)(word: (Int, Long) => String): String = {
    var h = salt * 0x9e3779b97f4a7c15L + i * 0xc2b2ae3d27d4eb4fL
    (0 until n).map { j =>
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 29
      word(j, h)
    }.mkString(" ")
  }

  private def cold(j: Int, h: Long): String =
    s"w${java.lang.Long.toUnsignedString(h % 50000)}"

  /** 12-word doc text, unique per (salt, i). */
  private def docText(salt: Long, i: Long): String = words(salt, i, 12)(cold)

  /** 90% fresh items, 5% copies of the seed corpus (salt -1), 5% copies
    * of this batch's own items — every verdict path exercised each batch.
    */
  private def mix[A](b: Int, perBatch: Int, item: (Long, Long) => A): Seq[(Long, A)] =
    (0 until perBatch * 9 / 10).map(i => (b * 100000L + i, item(b.toLong, i))) ++
      (0 until perBatch / 20).map(i =>
        (b * 100000L + 50000L + i, item(-1L, (b + i) % 500))) ++
      (0 until perBatch / 20).map(i =>
        (b * 100000L + 60000L + i, item(b.toLong, i)))

  /** ~40-char eligible line, unique per (salt, i). */
  private def line(salt: Long, i: Long): String = words(salt, i, 6)(cold)

  /** 5 fresh uniques, one boilerplate line the SEED corpus indexed
    * (index-hit path), one line shared across this batch's docs
    * (in-batch first-occurrence path), one short exempt line.
    */
  private def lineDoc(salt: Long, i: Long): String =
    ((0 until 5).map(j => line(salt, i * 8 + j)) ++
      Seq(line(-1L, (salt + i) % 100), // seed boilerplate
        line(salt * 7919 + 13, 0L),    // in-batch banner
        "ok")                          // short, exempt
      ).mkString("\n")

  /** ~20% of words from a 200-word hot pool (the heavy hitters every
    * batch feeds), the rest from a cold pool — a stable head AND a
    * vocabulary that grows with stream age.
    */
  private def ngramDoc(salt: Long, i: Long): String =
    words(salt, i, 12) { (j, h) =>
      if (j % 5 == 0) s"hot${(h >>> 1) % 200}"
      else s"w${java.lang.Long.toUnsignedString(h >>> 1).take(10)}"
    }

  /** Deterministic 16-dim vector per (salt, i), components in [-1, 1]. */
  private def vec(salt: Long, i: Long): Array[Float] = {
    var h = salt * 0x9e3779b97f4a7c15L + i * 0xc2b2ae3d27d4eb4fL
    Array.fill(16) {
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 29
      ((h % 2000) / 1000.0f)
    }
  }

  private def subject(family: String, mode: String, perBatch: Int,
                      spark: SparkSession): Subject = {
    import spark.implicits._
    def tmp(tag: String): String =
      Files.createTempDirectory(s"soak-$family-$tag-$mode").toString
    def seed(doc: (Long, Long) => String): DataFrame =
      (0 until 500).map(i => (i.toLong, doc(-1L, i))).toDF("doc_id", "text")
    val out = tmp("out")
    family match {
      case "dedup" =>
        val p = tmp("idx")
        Subject(b => mix(b, perBatch, docText).toDF("doc_id", "text"),
          StreamingDedup.processBatch(_, _, p, out, tau = 0.5),
          Seq(MinHashIndex.build(seed(docText), p)))
      case "winnow" =>
        val p = tmp("idx")
        Subject(b => mix(b, perBatch, docText).toDF("doc_id", "text"),
          StreamingWinnowDedup.processBatch(_, _, p, out, tau = 0.5),
          Seq(WinnowIndex.build(seed(docText), p)))
      case "line" =>
        val p = tmp("idx")
        Subject(b => (0 until perBatch)
            .map(i => (b * 100000L + i, lineDoc(b.toLong, i))).toDF("doc_id", "text"),
          StreamingLineDedup.processBatch(_, _, p, out),
          Seq(LineIndex.build(seed(lineDoc), p)))
      case "ngram" =>
        val p = tmp("idx")
        Subject(b => (0 until perBatch)
            .map(i => (b * 100000L + i, ngramDoc(b.toLong, i))).toDF("doc_id", "text"),
          StreamingNgramStats.processBatch(_, _, p, snapshotPath = Some(out)),
          Seq(NgramIndex.build(seed(ngramDoc), p, n = 2)))
      case "semantic" =>
        val p = tmp("idx")
        val idx = SemanticIndex.build(
          (0 until 500).map(i => (i.toLong, vec(-1L, i))).toDF("vec_id", "embedding"),
          p, nlist = 16)
        Subject(b => mix(b, perBatch, vec).toDF("vec_id", "embedding"),
          StreamingSemanticDedup.processBatch(_, _, p, out, tau = 0.95),
          Seq(idx))
      case "pipeline" => pipeline(mode, perBatch, spark, tmp, out)
      case other => sys.error(s"unknown soak family: $other")
    }
  }

  /** The composed gauntlet; `line` mode puts line cleaning in front and
    * plants a banner in every doc, `full` turns every optional stage on.
    */
  private def pipeline(mode: String, perBatch: Int, spark: SparkSession,
                       tmp: String => String, out: String): Subject = {
    import spark.implicits._
    val withLine = mode == "line" || mode == "full"
    val full = mode == "full"
    // the recurring boilerplate the line stage must shed each batch
    // without the wall growing
    val banner = "subscribe to the daily digest newsletter"
    // deterministic CENTERED 16-dim embedding per doc id (uncentered
    // positive vectors would all sit at cos ≈ 0.75 and the semantic
    // stage would gut every batch)
    def docEmb(id: Long): Array[Float] =
      Array.tabulate(16)(k => (((id * 31 + k * 7) % 97) - 48).toFloat / 97f)
    val seedRows = (0 until 500).map(i => (i.toLong, docText(-1L, i)))
    val seed = seedRows.toDF("doc_id", "text")
    val prioSeed = seed.withColumn("prio", lit(1.0))
    val prioOpt = if (full) Some("prio") else None
    val fp = FingerprintIndex.build(prioSeed, tmp("fp"), bloom = full,
      prioCol = prioOpt)
    val mh = MinHashIndex.build(prioSeed, tmp("mh"), prioCol = prioOpt)
    val ln = if (withLine)
      Some(LineIndex.build(Seq((-1L, banner)).toDF("doc_id", "text"), tmp("ln")))
    else None
    // full mode: EVERY optional stage live (the d85 capstone's config)
    // — Bloom-gated exact, priorities on all three text indexes, NFC,
    // decontamination vs a 20-doc eval set, winnow, semantic over
    // synthetic embeddings, ngram stats
    val sp = if (full) Some(tmp("sp")) else None
    sp.foreach(SpanIndex.build(
      (0 until 20).map(i => (9000000L + i, docText(-2L, i))).toDF("doc_id", "text"), _))
    val sm = if (full) Some(SemanticIndex.build(
      seedRows.map { case (id, _) => (id, docEmb(id)) }.toDF("vec_id", "embedding"),
      tmp("sm"), nlist = 4, normalized = false)) else None
    val wn = if (full)
      Some(WinnowIndex.build(prioSeed, tmp("wn"), prioCol = Some("prio")))
    else None
    val ng = if (full) Some(NgramIndex.build(seed, tmp("ng"))) else None
    // keep = ≥ 3 words: the 10% short-text rows fail, everything else
    // passes — the gate stays live without dominating the verdict mix
    val cfg0 = StreamingCorpusPipeline.Config(tau = 0.5,
      quality = d => d.select(col("doc_id"),
        when(size(split(col("text"), "\\s+")) >= 3, 1).otherwise(0).as("keep")))
    val cfg = if (!full) cfg0 else cfg0.copy(bloomGate = true,
      normalizeForm = Some("NFC"), prioCol = Some("prio"), winTau = 0.4)
    def withBanner(t: String): String = if (withLine) banner + "\n" + t else t
    // 80% fresh, 10% quality fails, 5% exact dups of the seed, 5%
    // in-batch exact dups. In line mode the seed-dup class convicts ONLY
    // because cleaning restores the seed text (the d62 binding). Full
    // mode adds 2 planted eval-leak docs per batch and gives half the
    // seed dups prio 0 (trusted), so the elections run live.
    def deliver(b: Int): DataFrame = {
      val rows = (0 until perBatch * 8 / 10).map(i =>
          (b * 100000L + i, withBanner(docText(b.toLong, i)), 1.0)) ++
        (0 until perBatch / 10).map(i => (b * 100000L + 40000L + i, "x y", 1.0)) ++
        (0 until perBatch / 20).map(i =>
          (b * 100000L + 50000L + i, withBanner(docText(-1L, (b + i) % 500)),
            if (full && i % 2 == 0) 0.0 else 1.0)) ++
        (0 until perBatch / 20).map(i =>
          (b * 100000L + 60000L + i, withBanner(docText(b.toLong, i)), 1.0)) ++
        (if (!full) Nil else (0 until 2).map(i =>
          (b * 100000L + 70000L + i,
            withBanner(docText(-2L, (b + i) % 20) + s" uq$b$i"), 1.0)))
      if (!full) rows.map(r => (r._1, r._2)).toDF("doc_id", "text")
      else rows.map(r => (r._1, r._2, r._3, docEmb(r._1)))
        .toDF("doc_id", "text", "prio", "embedding")
    }
    Subject(deliver,
      StreamingCorpusPipeline.processBatch(_, _, fp.path, mh.path, sp, out,
        cfg, semPath = sm.map(_.path), winPath = wn.map(_.path),
        lnPath = ln.map(_.path), ngPath = ng.map(_.path)),
      Seq(fp, mh) ++ ln ++ wn ++ sm ++ ng)
  }

  private def subdirs(dir: File): Seq[File] =
    Option(dir.listFiles).getOrElse(Array.empty[File]).toSeq.filter(_.isDirectory)

  private def countFiles(dir: File): Int =
    Option(dir.listFiles).getOrElse(Array.empty[File])
      .count(f => f.isFile && f.getName.endsWith(".parquet")) +
      subdirs(dir).map(countFiles).sum

  /** Distinct `seg=` names across an index's tables. */
  private def countSegs(index: File): Int =
    subdirs(index).flatMap(subdirs).map(_.getName)
      .filter(_.startsWith("seg=")).distinct.size

  private def soak(mode: String, every: Int, batches: Int, s: Subject): Unit = {
    val walls = (0 until batches).map { b =>
      val docs = s.deliver(b)
      val t0 = System.nanoTime()
      s.process(docs, b.toLong)
      val sec = (System.nanoTime() - t0) / 1e9
      val csec =
        if (every > 0 && b > 0 && b % every == 0) {
          val tc = System.nanoTime()
          val folds = (0 until b - 1).map(i => s"b$i")
          s.indexes.foreach(_.compact(folds))
          (System.nanoTime() - tc) / 1e9
        } else 0.0
      val dirs = s.indexes.map(i => new File(i.path))
      val files = dirs.map(countFiles).sum
      val segs = dirs.map(countSegs).sum
      println(f"""{"mode":"$mode","batch":$b,"sec":$sec%.2f,"csec":$csec%.2f,"files":$files,"segs":$segs}""")
      sec
    }
    // honest means for short runs: sample count = what was taken, and
    // the two windows never overlap (take/takeRight share batches when
    // batches < 20, which would pin the ratio at ~1 regardless of growth)
    val span = math.max(math.min(10, walls.size / 2), 1)
    val head = walls.take(span).sum / span
    val tail = walls.takeRight(span).sum / span
    println(f"""{"mode":"$mode","first_mean":$head%.2f,"last_mean":$tail%.2f,"ratio":${tail / head}%.2f}""")
  }

  def main(args: Array[String]): Unit = {
    val family = args.headOption.getOrElse(
      sys.error("usage: Soak <dedup|winnow|line|ngram|semantic|pipeline> " +
        "[batches] [docsPerBatch] [compactEvery|full]"))
    val batches = args.lift(1).map(_.toInt).getOrElse(60)
    val perBatch = args.lift(2).map(_.toInt).getOrElse(150)
    val pipe = family == "pipeline"
    val modes = args.lift(3).getOrElse("0") match {
      case "full" if pipe => Seq("full" -> 5)
      case n if n.toInt > 0 => Seq("compact" -> n.toInt)
      case n if n.toInt < 0 && pipe => Seq("line" -> -n.toInt)
      case _ => Seq("none" -> 0, "compact" -> 5) ++
        (if (pipe) Seq("line" -> 5) else Nil)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .appName(s"graft-$family-soak")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    modes.foreach { case (mode, every) =>
      soak(mode, every, batches, subject(family, mode, perBatch, spark))
    }
    spark.stop()
  }
}
