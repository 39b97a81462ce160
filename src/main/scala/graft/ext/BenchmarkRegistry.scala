package graft.ext

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Named multi-benchmark decontamination registry (r12 verdict #5): a
  * production run decontaminates against MANY eval suites and needs
  * per-suite attribution — which benchmark leaked, how much, which
  * version — not one anonymous positions blob. A thin, manifest-driven
  * layer over per-set [[SpanIndex]]es:
  *
  *   - `sets/<name>/` — one immutable SpanIndex per benchmark set, its
  *     bench ids offset into a per-set id band (slot · 2⁴⁰ + id) so
  *     every set rides ONE combined check;
  *   - `_manifest` — name → (slot, version). Re-registering a name is
  *     versioning-by-replacement ([[SpanIndex.build]]'s whole contract:
  *     an eval set is a fixed artifact, a new version is a new build) —
  *     the slot is REUSED so band decoding stays stable, the version
  *     label updates, and the old index directory is simply replaced.
  *
  * Check-cost shape (the reason this is a registry and not a loop):
  * [[report]] UNIONS every set's position table into ONE broadcast
  * equi-join against the delivery — per-delivery cost stays
  * Σ bench sizes, broadcast, with the batch side paying its df-cap
  * window ONCE ([[SpanIndex.checkExact]]'s existing shape) instead of
  * once per suite. All sets share the registry's gram space
  * (k, prefix, maxOccur), pinned at create time — mixing gram spaces
  * in one join is unrepresentable, the [[LineIndex]] `_params` rule.
  */
final class BenchmarkRegistry private[ext] (val spark: SparkSession,
                                            val path: String, val k: Int,
                                            val prefix: String,
                                            val maxOccur: Int) {
  import BenchmarkRegistry.IdSpace

  /** name → (slot, version), from `_manifest`. */
  def manifest: Map[String, (Int, String)] =
    Files.readAllLines(Paths.get(path, "_manifest")).toArray.toSeq
      .map(_.toString).filter(_.nonEmpty)
      .map { line =>
        val Array(name, slot, version) = line.split("\t", 3)
        name -> ((slot.toInt, version))
      }.toMap

  private def writeManifest(m: Map[String, (Int, String)]): Unit = {
    val body = m.toSeq.sortBy(_._1)
      .map { case (n, (s, v)) => s"$n\t$s\t$v" }.mkString("", "\n", "\n")
    Files.write(Paths.get(path, "_manifest"),
      body.getBytes(StandardCharsets.UTF_8)): Unit
  }

  /** Register (or re-register: version-by-replacement) benchmark set
    * `name` at `version`. Bench ids must fit the id band (< 2⁴⁰).
    */
  def register(name: String, version: String, bench: DataFrame,
               idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(name.matches("[A-Za-z0-9._-]+") && name != "." && name != "..",
      s"benchmark set name '$name' must match [A-Za-z0-9._-]+ " +
        "(it names a sets/ subdirectory and a _manifest field)")
    require(version.matches("[^\\t\\n\\r]*"),
      s"version '$version' must not contain tabs or newlines (_manifest is TSV)")
    val bounds = bench.agg(
      min(col(idCol)).cast("long"), max(col(idCol)).cast("long")).head()
    if (!bounds.isNullAt(0)) {
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      require(lo >= 0L && hi < IdSpace,
        s"bench ids must lie in [0, 2^40) to fit the per-set id band; " +
          s"got [$lo, $hi] — out-of-band ids would decode to the wrong slot")
    }
    val m = manifest
    val slot = m.get(name).map(_._1)
      .getOrElse(m.values.map(_._1).foldLeft(-1)(math.max) + 1)
    SpanIndex.build(
      bench.select((lit(slot * IdSpace) + col(idCol)).as(idCol), col(textCol)),
      s"$path/sets/$name", k, prefix, maxOccur, idCol, textCol)
    writeManifest(m + (name -> ((slot, version))))
  }

  /** Per-(train doc, benchmark set, bench item) EXACT leaked-extent
    * report over every registered set in one pass:
    * (idCol, bench_set, bench_version, bench_id, span, nruns) — span =
    * the longest exact leaked run ≥ `minKeep` chars against that bench
    * item, nruns = how many such runs. One combined broadcast join;
    * see the class doc for the cost shape.
    */
  def report(batch: DataFrame, minShared: Long = 2, maxGramFreq: Long = 200,
             maxGap: Long = 64, minKeep: Long = 16, slack: Long = 64,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val m = manifest.toSeq
    require(m.nonEmpty, "no benchmark sets registered")
    val positions = m.map { case (n, _) =>
      SpanIndex.load(spark, s"$path/sets/$n").positions
    }.reduce(_.unionByName(_))
    val benchDocs = m.map { case (n, _) =>
      SpanIndex.load(spark, s"$path/sets/$n").benchDocs
    }.reduce(_.unionByName(_))
    val cands = Dedup.charGramRunsAgainst(batch, benchDocs, k, prefix,
      minShared, maxGramFreq, maxGap, idCol, textCol,
      benchPositions = Some(positions), maxOccur = maxOccur)
    val names = {
      import spark.implicits._
      m.map { case (n, (slot, version)) => (slot, n, version) }
        .toDF("slot", "bench_set", "bench_version")
    }
    Dedup.exactifyRuns(batch, cands, minKeep, slack,
        idCol = idCol, textCol = textCol, docsB = Some(benchDocs))
      .groupBy(col("a").as(idCol),
        floor(col("b") / IdSpace).cast("int").as("slot"),
        pmod(col("b"), lit(IdSpace)).as("bench_id"))
      .agg(max(col("ext")).as("span"), count(lit(1)).as("nruns"))
      .join(broadcast(names), Seq("slot"))
      .select(col(idCol), col("bench_set"), col("bench_version"),
        col("bench_id"), col("span"), col("nruns"))
  }
}

object BenchmarkRegistry {

  /** Per-set id band width: bench ids live in [slot·2⁴⁰, (slot+1)·2⁴⁰). */
  val IdSpace: Long = 1L << 40

  /** Create an empty registry at `path` (replacing anything there),
    * pinning the shared gram space.
    */
  def create(spark: SparkSession, path: String, k: Int = 16,
             prefix: String = "0", maxOccur: Int = 8): BenchmarkRegistry = {
    SegmentedTable.deleteRecursively(new java.io.File(path))
    Files.createDirectories(Paths.get(path))
    Files.write(Paths.get(path, "_params"),
      s"k=$k\nmaxOccur=$maxOccur\nprefix=$prefix\n"
        .getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(path, "_manifest"),
      Array.empty[Byte])
    new BenchmarkRegistry(spark, path, k, prefix, maxOccur)
  }

  /** Open an existing registry; gram space from its `_params`. */
  def load(spark: SparkSession, path: String): BenchmarkRegistry = {
    val params = SegmentedTable.readParams(path)
    new BenchmarkRegistry(spark, path, params("k").toInt, params("prefix"),
      params("maxOccur").toInt)
  }
}
