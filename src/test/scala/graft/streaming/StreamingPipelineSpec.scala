package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ext.{FingerprintIndex, MinHashIndex, SpanIndex}

/** The composed continuous corpus constructor: quality → exact dedup →
  * decontamination → near-dup, one verdict per doc, survivors indexed,
  * exactly-once under replay. Texts follow IncrementalDedupSpec's
  * hand-computable jaccard convention (10 words → 8 trigrams; one word
  * changed → 7/9 ≈ 0.78 ≥ tau 0.5).
  */
class StreamingPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    assert(q.awaitTermination(300000), "streaming query did not terminate")
    assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
  }

  private val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val D = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
  private val E = "north south east west up down left right fore aft"
  private val A1 = A.replace("kappa", "lambda") // near-dups A (7/9)
  private val D1 = D.dropRight(2) + "dX"        // near-dups D (7/9)
  private val E1 = E.replace("aft", "stern")    // near-dups E (7/9)
  private val F = "zeta yotta peta tera giga mega kilo hecto deka deci"

  private def rnd(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }
  private val leak = rnd(70, 60)
  private val benchDoc = rnd(71, 15) + leak + rnd(72, 30)

  // keep = ≥ 10 chars (the default Gopher gate's 50-word floor would
  // drop every fixture doc, and the contamination fixtures are single
  // unspaced tokens — quality is pluggable for exactly this reason)
  private val cfg = StreamingCorpusPipeline.Config(
    tau = 0.5,
    quality = d => d.select(col("doc_id"),
      when(length(col("text")) >= 10, 1).otherwise(0).as("keep")))

  test("gauntlet verdicts, survivor indexing across batches, replay idempotence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fpPath = Files.createTempDirectory("cp-fp").toString
    val mhPath = Files.createTempDirectory("cp-mh").toString
    val spanPath = Files.createTempDirectory("cp-span").toString
    val vPath = Files.createTempDirectory("cp-v").toString
    val ckpt = Files.createTempDirectory("cp-ckpt").toString
    val seed = Seq((1L, A), (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    FingerprintIndex.build(seed, fpPath)
    MinHashIndex.build(seed, mhPath)
    SpanIndex.build(Seq((901L, benchDoc)).toDF("doc_id", "text"),
      spanPath, prefix = "")

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    def verdicts(batch: Long): Map[Long, (String, Option[Long])] =
      spark.read.parquet(vPath).where(s"batch = $batch").collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap

    // batch 0: every stage convicts someone
    mem.addData(
      (101L, A),                                // exact dup of indexed 1
      (102L, D), (103L, D),                     // in-batch exact pair
      (104L, A1),                               // near-dups indexed 1
      (105L, "x y"),                            // fails quality (2 words)
      (106L, rnd(73, 20) + leak + rnd(74, 12)), // leaks the eval span
      (107L, E),                                // clean — kept
      (108L, D1))                               // near-dups in-batch keeper 102
    drain(StreamingCorpusPipeline.start(stream, fpPath, mhPath,
      Some(spanPath), vPath, ckpt, cfg))
    assert(verdicts(0) == Map(
      101L -> ("dup_exact", Some(1L)),
      102L -> ("kept", None),
      103L -> ("dup_exact_batch", Some(102L)),
      104L -> ("dup_index", Some(1L)),
      105L -> ("drop_quality", None),
      106L -> ("contaminated", Some(901L)),
      107L -> ("kept", None),
      108L -> ("dup_batch", Some(102L))), s"batch 0: ${verdicts(0)}")

    // batch 1 (restart from the same checkpoint): survivors 102/107 are
    // now in BOTH indexes — exact and near-dup cross-checks hit them
    mem.addData((201L, D), (202L, E1), (203L, F))
    drain(StreamingCorpusPipeline.start(stream, fpPath, mhPath,
      Some(spanPath), vPath, ckpt, cfg))
    assert(verdicts(1) == Map(
      201L -> ("dup_exact", Some(102L)),
      202L -> ("dup_index", Some(107L)),
      203L -> ("kept", None)), s"batch 1: ${verdicts(1)}")

    def indexedIds: Set[Long] = MinHashIndex.load(spark, mhPath)
      .signatures.select("id").distinct().as[Long].collect().toSet
    val idsAfter = indexedIds
    assert(idsAfter == Set(1L, 2L, 102L, 107L, 203L), s"indexed: $idsAfter")

    // replay batch 1 (at-least-once foreachBatch): same verdicts, same
    // index — every effect overwrote its own batch-keyed directory
    StreamingCorpusPipeline.processBatch(
      Seq((201L, D), (202L, E1), (203L, F)).toDF("doc_id", "text"),
      1L, fpPath, mhPath, Some(spanPath), vPath, cfg)
    assert(verdicts(1) == Map(
      201L -> ("dup_exact", Some(102L)),
      202L -> ("dup_index", Some(107L)),
      203L -> ("kept", None)), s"replayed batch 1: ${verdicts(1)}")
    assert(indexedIds == idsAfter, "replay changed the index")
  }

  test("priority election in the gauntlet: trusted clones kept at both cross stages, both in-batch keepers beat min-id, replay idempotent") {
    import spark.implicits._
    val fpPath = Files.createTempDirectory("cpp-fp").toString
    val mhPath = Files.createTempDirectory("cpp-mh").toString
    val vPath = Files.createTempDirectory("cpp-v").toString
    // crawl seed (prio 1), both indexes carrying priorities
    val seed = Seq((1L, A, 1.0), (2L, E, 1.0)).toDF("doc_id", "text", "prio")
    FingerprintIndex.build(seed, fpPath, prioCol = Some("prio"))
    MinHashIndex.build(seed, mhPath, prioCol = Some("prio"))
    val pcfg = cfg.copy(prioCol = Some("prio"))
    def verdicts(batch: Long): Map[Long, (String, Option[Long])] =
      spark.read.parquet(vPath).where(s"batch = $batch").collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap

    // 10: TRUSTED exact clone of indexed 1 — kept at the exact cross
    //     (and again at the near cross, same election);
    // 11/12: novel IDENTICAL pair, curated id LARGER — the exact
    //     in-batch election must pick 12 over min-id 11;
    // 13/14: novel NEAR pair (D vs D1), curated id larger — the near
    //     in-batch election must pick 14;
    // 15: crawl exact re-delivery of indexed 1 — drops, ref 1;
    // 16: crawl NEAR clone of indexed 2 (E1) — drops at near cross
    val b0 = Seq((10L, A, 0.0), (11L, F, 1.0), (12L, F, 0.0),
      (13L, D, 1.0), (14L, D1, 0.0), (15L, A, 1.0), (16L, E1, 1.0))
      .toDF("doc_id", "text", "prio")
    StreamingCorpusPipeline.processBatch(b0, 0L, fpPath, mhPath, None,
      vPath, pcfg)
    val expected = Map(
      10L -> ("kept", None),
      11L -> ("dup_exact_batch", Some(12L)),
      12L -> ("kept", None),
      13L -> ("dup_batch", Some(14L)),
      14L -> ("kept", None),
      15L -> ("dup_exact", Some(1L)),
      16L -> ("dup_index", Some(2L)))
    assert(verdicts(0) == expected, s"batch 0: ${verdicts(0)}")
    // no index rewrite: the displaced crawl copy 1 stays indexed next
    // to its trusted clone 10, and priorities rode both appends
    val fpi = FingerprintIndex.load(spark, fpPath)
    val prios = fpi.priorities().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prios(1L) == 1.0 && prios(10L) == 0.0 && prios(12L) == 0.0)
    assert(MinHashIndex.load(spark, mhPath).priorities().collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 10L, 12L, 14L))

    // replay: own-segment exclusion covers the prio tables, so the
    // election reproduces verdicts exactly and segments rewrite
    StreamingCorpusPipeline.processBatch(b0, 0L, fpPath, mhPath, None,
      vPath, pcfg)
    assert(verdicts(0) == expected, s"replay: ${verdicts(0)}")

    // batch 1: a crawl clone of trusted keeper 10 resolves to 10, not
    // to the older min-id crawl copy 1 — keeper-forward semantics
    StreamingCorpusPipeline.processBatch(
      Seq((20L, A, 1.0)).toDF("doc_id", "text", "prio"),
      1L, fpPath, mhPath, None, vPath, pcfg)
    assert(verdicts(1) == Map(20L -> ("dup_exact", Some(10L))),
      s"batch 1: ${verdicts(1)}")
  }

  test("ngram-stats accumulator: merged stats track exactly the kept corpus, replay-safe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fpPath = Files.createTempDirectory("ng-fp").toString
    val mhPath = Files.createTempDirectory("ng-mh").toString
    val ngPath = Files.createTempDirectory("ng-ng").toString
    val vPath = Files.createTempDirectory("ng-v").toString
    val ckpt = Files.createTempDirectory("ng-ckpt").toString
    val seed = Seq((1L, A)).toDF("doc_id", "text")
    FingerprintIndex.build(seed, fpPath)
    MinHashIndex.build(seed, mhPath)
    graft.ext.NgramIndex.build(seed, ngPath, n = 2)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    // 101 exact-dups the seed, 103 exact-dups 102 in-batch, 104 fails
    // quality, 105 near-dups the seed — NONE of their grams may land;
    // 102 and 107 are kept and must land exactly once
    mem.addData((101L, A), (102L, D), (103L, D), (104L, "x y"),
      (105L, A1), (107L, E))
    drain(StreamingCorpusPipeline.start(stream, fpPath, mhPath, None,
      vPath, ckpt, cfg, ngPath = Some(ngPath)))
    // batch 1: 201 exact-dups now-indexed 102 (its grams must not
    // double); 203 is fresh
    mem.addData((201L, D), (203L, F))
    drain(StreamingCorpusPipeline.start(stream, fpPath, mhPath, None,
      vPath, ckpt, cfg, ngPath = Some(ngPath)))

    def stats(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val keptCorpus = Seq((1L, A), (102L, D), (107L, E), (203L, F))
      .toDF("doc_id", "text")
    val want = stats(graft.ext.TextAnalysis.topNgrams(keptCorpus, n = 2,
      topK = Int.MaxValue))
    assert(stats(graft.ext.NgramIndex.load(spark, ngPath).merged) == want,
      "merged stats diverge from the kept-corpus recount")

    // replay batch 0 through the batch hook: segment overwritten, the
    // stats unchanged (exactly-once like every other append)
    StreamingCorpusPipeline.processBatch(
      Seq((101L, A), (102L, D), (103L, D), (104L, "x y"), (105L, A1),
        (107L, E)).toDF("doc_id", "text"),
      0L, fpPath, mhPath, None, vPath, cfg, ngPath = Some(ngPath))
    assert(stats(graft.ext.NgramIndex.load(spark, ngPath).merged) == want,
      "replay double-counted the stats segment")
  }

  test("normalize stage: decomposed/precomposed dups unify under NFC; control run without the stage misses them") {
    import spark.implicits._
    // two spellings of the same text — decomposed e+U+0301 vs
    // precomposed U+00E9 (explicit escapes: source normalization must
    // never flip a form) — plus a clean doc
    val deco = s"$D cafe\u0301"
    val pre = s"$D caf\u00e9"
    def run(cfg2: StreamingCorpusPipeline.Config):
        Map[Long, (String, Option[Long])] = {
      val fpPath = Files.createTempDirectory("nfc-fp").toString
      val mhPath = Files.createTempDirectory("nfc-mh").toString
      val vPath = Files.createTempDirectory("nfc-v").toString
      FingerprintIndex.build(Seq((1L, A)).toDF("doc_id", "text"), fpPath)
      MinHashIndex.build(Seq((1L, A)).toDF("doc_id", "text"), mhPath)
      StreamingCorpusPipeline.processBatch(
        Seq((101L, deco), (102L, pre), (103L, E)).toDF("doc_id", "text"),
        0L, fpPath, mhPath, None, vPath, cfg2)
      spark.read.parquet(vPath).where("batch = 0").collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
    }
    val withNfc = run(cfg.copy(normalizeForm = Some("NFC")))
    assert(withNfc == Map(
      101L -> ("kept", None),
      102L -> ("dup_exact_batch", Some(101L)),
      103L -> ("kept", None)), s"with NFC: $withNfc")
    // CONTROL: without the stage the two spellings canonicalize
    // differently ('cafe' vs 'caf' after the mark/é strip) — the exact
    // stage misses; they still near-dup each other (one shingle apart),
    // so the verdict CLASS is what proves the stage ran
    val without = run(cfg)
    assert(without(102L)._1 != "dup_exact_batch",
      s"control must NOT exact-match: $without")
  }

  test("bootstrap: global keepers seed the indexes; the stream takes over against them") {
    import spark.implicits._
    val fpPath = Files.createTempDirectory("cp3-fp").toString
    val mhPath = Files.createTempDirectory("cp3-mh").toString
    val vPath = Files.createTempDirectory("cp3-v").toString
    val corpus = Seq(
      (1L, A), (2L, D),
      (3L, D),     // exact dup of 2 → dup_exact ref 2
      (4L, A1),    // near-dups 1 → dup_batch ref 1
      (5L, "x y"), // fails quality
      (6L, E))
      .toDF("doc_id", "text")
    val got = StreamingCorpusPipeline.bootstrap(corpus, fpPath, mhPath, cfg)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ("kept", None),
      2L -> ("kept", None),
      3L -> ("dup_exact", Some(2L)),
      4L -> ("dup_batch", Some(1L)),
      5L -> ("drop_quality", None),
      6L -> ("kept", None)), s"bootstrap verdicts: $got")
    // the seeded indexes ARE the streaming state: a delivery dedups
    // against the bootstrap survivors through the normal batch path
    StreamingCorpusPipeline.processBatch(
      Seq((101L, D), (102L, E1), (103L, F)).toDF("doc_id", "text"),
      0L, fpPath, mhPath, None, vPath, cfg)
    val v = spark.read.parquet(vPath).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(v == Map(
      101L -> ("dup_exact", Some(2L)),
      102L -> ("dup_index", Some(6L)),
      103L -> ("kept", None)), s"post-bootstrap delivery: $v")
  }

  test("semantic stage: cross + in-batch SemDeDup verdicts, survivors extend the index") {
    import spark.implicits._
    val fpPath = Files.createTempDirectory("cp4-fp").toString
    val mhPath = Files.createTempDirectory("cp4-mh").toString
    val semPath = Files.createTempDirectory("cp4-sem").toString
    val vPath = Files.createTempDirectory("cp4-v").toString
    def txt(id: Long) = s"w${id}a w${id}b w${id}c w${id}d"
    def vec(i: Int) = Array.tabulate(4)(j => if (j == i) 1f else 0f)
    val seedDocs = Seq((1L, txt(1)), (2L, txt(2))).toDF("doc_id", "text")
    FingerprintIndex.build(seedDocs, fpPath)
    MinHashIndex.build(seedDocs, mhPath)
    graft.ext.SemanticIndex.build(
      Seq((1L, vec(0)), (2L, vec(1))).toDF("vec_id", "embedding"),
      semPath, nlist = 1, normalized = false)

    // texts are all unique (no text-stage convictions); the vectors
    // carry the dups: 301 matches indexed 1, 302/303 are an in-batch
    // pair (keeper 302), 304 is orthogonal to everything
    val batch = Seq(
      (301L, txt(301), vec(0)),
      (302L, txt(302), vec(2)), (303L, txt(303), vec(2)),
      (304L, txt(304), vec(3)))
      .toDF("doc_id", "text", "embedding")
    StreamingCorpusPipeline.processBatch(batch, 0L, fpPath, mhPath, None,
      vPath, cfg, semPath = Some(semPath))
    def verdicts: Map[Long, (String, Option[Long])] =
      spark.read.parquet(vPath).where("batch = 0").collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
    val want = Map(
      301L -> ("dup_semantic", Some(1L)),
      302L -> ("kept", None),
      303L -> ("dup_semantic_batch", Some(302L)),
      304L -> ("kept", None))
    assert(verdicts == want, s"semantic verdicts: $verdicts")
    // survivors joined the semantic index (base seeds + 302, 304)
    val ids = spark.read.parquet(s"$semPath/members")
      .select("id").distinct().as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 302L, 304L), s"semantic members: $ids")
    // replay: batch-keyed overwrites + own-segment exclusion
    StreamingCorpusPipeline.processBatch(batch, 0L, fpPath, mhPath, None,
      vPath, cfg, semPath = Some(semPath))
    assert(verdicts == want, "replay changed verdicts")
  }

  test("bootstrapSemantic: global keeper + refs; seeded index serves the gauntlet") {
    import spark.implicits._
    val fpPath = Files.createTempDirectory("cp5-fp").toString
    val mhPath = Files.createTempDirectory("cp5-mh").toString
    val semPath = Files.createTempDirectory("cp5-sem").toString
    val vPath = Files.createTempDirectory("cp5-v").toString
    def txt(id: Long) = s"w${id}a w${id}b w${id}c w${id}d"
    def vec(i: Int) = Array.tabulate(4)(j => if (j == i) 1f else 0f)
    // 1 and 3 are an in-corpus pair (keeper 1, ref recorded); 2 distinct
    val got = StreamingCorpusPipeline.bootstrapSemantic(
      Seq((1L, vec(0)), (2L, vec(1)), (3L, vec(0)))
        .toDF("vec_id", "embedding"),
      semPath, nlist = 1, tau = 0.35, normalized = false)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ("kept", None),
      2L -> ("kept", None),
      3L -> ("dup_semantic_batch", Some(1L))), s"bootstrap verdicts: $got")
    // the seeded index IS the gauntlet's semantic state
    FingerprintIndex.build(Seq((1L, txt(1)), (2L, txt(2))).toDF("doc_id", "text"), fpPath)
    MinHashIndex.build(Seq((1L, txt(1)), (2L, txt(2))).toDF("doc_id", "text"), mhPath)
    StreamingCorpusPipeline.processBatch(
      Seq((401L, txt(401), vec(0)), (402L, txt(402), vec(2)))
        .toDF("doc_id", "text", "embedding"),
      0L, fpPath, mhPath, None, vPath, cfg, semPath = Some(semPath))
    val v = spark.read.parquet(vPath).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(v == Map(
      401L -> ("dup_semantic", Some(1L)),
      402L -> ("kept", None)), s"post-bootstrap semantic delivery: $v")
  }

  test("randomized batches: kept set is dup-free, indexes == kept, refs resolve") {
    import spark.implicits._
    import graft.ext.Dedup
    val fpPath = Files.createTempDirectory("cp6-fp").toString
    val mhPath = Files.createTempDirectory("cp6-mh").toString
    val vPath = Files.createTempDirectory("cp6-v").toString
    // deterministic 12-word doc text, unique per (salt, i)
    def docText(salt: Long, i: Long): String = {
      var h = salt * 0x9e3779b97f4a7c15L + i * 0xc2b2ae3d27d4eb4fL
      (0 until 12).map { _ =>
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 29
        s"w${java.lang.Long.toUnsignedString(h % 50000)}"
      }.mkString(" ")
    }
    val seed = (0 until 40).map(i => (i.toLong, docText(-1L, i)))
    FingerprintIndex.build(seed.toDF("doc_id", "text"), fpPath)
    MinHashIndex.build(seed.toDF("doc_id", "text"), mhPath)
    val rnd = new scala.util.Random(42)
    var all = seed.toVector // every (id, text) ever offered
    for (b <- 0 until 3) {
      val fresh = (0 until 20).map(i => ((b + 1) * 100000L + i, docText(b.toLong, i)))
      // clones and near-clones of anything seen so far + quality fails
      val clones = (0 until 4).map { i =>
        val (_, t) = all(rnd.nextInt(all.size))
        ((b + 1) * 100000L + 40000 + i, t)
      }
      val nears = (0 until 4).map { i =>
        val (_, t) = all(rnd.nextInt(all.size))
        ((b + 1) * 100000L + 50000 + i, t + " tail")
      }
      val bad = (0 until 3).map(i => ((b + 1) * 100000L + 60000 + i, "x"))
      val batch = rnd.shuffle(fresh ++ clones ++ nears ++ bad)
      StreamingCorpusPipeline.processBatch(
        batch.toDF("doc_id", "text"), b.toLong, fpPath, mhPath, None,
        vPath, cfg)
      all = all ++ (fresh ++ clones ++ nears)
    }
    val verdicts = spark.read.parquet(vPath)
      .select("doc_id", "verdict", "ref_id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    // one verdict per offered doc per batch
    assert(verdicts.length == 3 * 31, s"verdict rows: ${verdicts.length}")
    val keptIds = verdicts.collect { case (id, "kept", _) => id }.toSet
    // the kept corpus is dup-free BY CONSTRUCTION: any ≥tau pair or
    // shared fingerprint among seed+kept means a cross/in-batch check
    // failed to fire
    val keptDocs = (seed ++ all.filter(d => keptIds(d._1)))
      .toDF("doc_id", "text")
    assert(Dedup.jaccardPairs(keptDocs, n = 3, tau = 0.5).isEmpty,
      "near-dup pair survived the gauntlet")
    assert(Dedup.exactGroups(keptDocs).where(col("n") > 1).isEmpty,
      "exact dup survived the gauntlet")
    // index content == seed + kept, exactly
    val indexed = MinHashIndex.load(spark, mhPath)
      .signatures.select("id").distinct().as[Long].collect().toSet
    assert(indexed == seed.map(_._1).toSet ++ keptIds,
      s"index drift: ${indexed.size} vs ${seed.size + keptIds.size}")
    // every dup ref resolves to a doc that was offered or seeded
    val known = all.map(_._1).toSet ++ seed.map(_._1).toSet
    assert(verdicts.forall { case (_, _, ref) => ref.forall(known) },
      "dangling ref")
  }

  test("C4 rules plug in as the gauntlet quality gate") {
    import spark.implicits._
    val fpPath = Files.createTempDirectory("cp3-fp").toString
    val mhPath = Files.createTempDirectory("cp3-mh").toString
    val vPath = Files.createTempDirectory("cp3-v").toString
    val c4cfg = StreamingCorpusPipeline.Config(tau = 0.5,
      quality = d => graft.ext.TextAnalysis.c4Rules(d)
        .select(col("doc_id"), col("keep")))
    val seed = Seq((1L, "seed doc nothing shares eight byte runs with me kraz"))
      .toDF("doc_id", "text")
    FingerprintIndex.build(seed, fpPath)
    MinHashIndex.build(seed, mhPath)
    val passing = "alpha beta gamma delta epsilon.\nzeta eta theta iota kappa!\n" +
      "lambda mu nu xi omicron pi?"
    StreamingCorpusPipeline.processBatch(
      Seq(
        (101L, passing),                       // 3 kept sentences → kept
        (102L, "no punctuation lines here at\nall so c4 retains nothing"),
        (103L, passing + "\nbut lorem ipsum poisons this page."),
        (104L, passing)                        // exact dup of 101 IN batch
      ).toDF("doc_id", "text"),
      0L, fpPath, mhPath, None, vPath, c4cfg)
    val got = spark.read.parquet(vPath).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(101L -> "kept", 102L -> "drop_quality",
      103L -> "drop_quality", 104L -> "dup_exact_batch"), s"verdicts: $got")
  }

  test("winnow stage: catches char-run near-dups the word-shingle stage misses") {
    import spark.implicits._
    val fpPath = Files.createTempDirectory("cp4-fp").toString
    val mhPath = Files.createTempDirectory("cp4-mh").toString
    val winPath = Files.createTempDirectory("cp4-win").toString
    val vPath = Files.createTempDirectory("cp4-v").toString
    val vPathNoWin = Files.createTempDirectory("cp4-vn").toString
    val words = Seq("armadillo", "barometer", "chrysanth", "dirigible",
      "escarpmnt", "fortitude", "gyroscope", "humidity", "intricate",
      "jacaranda", "kilometre", "labyrinth")
    val W = words.mkString(" ")
    // change every 3rd word (idx 0,3,6,9): EVERY word trigram contains a
    // changed word → shingle jaccard 0, minhash structurally blind; the
    // four unchanged 2-word byte runs (~20 chars ≥ w+k−1 = 15) each
    // guarantee a shared winnow fingerprint
    val shifted = words.zipWithIndex.map { case (w, i) =>
      if (i % 3 == 0) w.reverse.toUpperCase else w
    }.mkString(" ")
    val seed = Seq((1L, W)).toDF("doc_id", "text")
    FingerprintIndex.build(seed, fpPath)
    MinHashIndex.build(seed, mhPath)
    graft.ext.WinnowIndex.build(seed, winPath)
    val cfg = StreamingCorpusPipeline.Config(tau = 0.5, winTau = 0.25,
      quality = d => d.select(col("doc_id"),
        when(length(col("text")) >= 10, 1).otherwise(0).as("keep")))
    val words2 = Seq("murmuring", "nocturnal", "obsidian", "periscope",
      "quicksand", "reservoir", "sagebrush", "tellurium", "umbrella",
      "vexillums", "waterfall", "xylophone")
    val W2 = words2.mkString(" ")
    val batch = Seq((301L, shifted), (302L, W2)).toDF("doc_id", "text")
    StreamingCorpusPipeline.processBatch(batch, 0L, fpPath, mhPath, None,
      vPath, cfg, winPath = Some(winPath))
    val got = spark.read.parquet(vPath).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(got(301L) == (("dup_winnow", Some(1L))), s"verdicts: $got")
    assert(got(302L)._1 == "kept")
    // the control: same batch without the winnow stage sails through —
    // the stage is load-bearing, not redundant with minhash
    StreamingCorpusPipeline.processBatch(batch, 0L, fpPath, mhPath, None,
      vPathNoWin, cfg)
    val ctl = spark.read.parquet(vPathNoWin).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ctl(301L) == "kept", s"control: $ctl")
    // survivors extend the winnow index: a winnow-only near-dup of 302
    // (same every-3rd-word shift, so minhash is again blind) convicts
    // in the NEXT batch against the grown index
    val shifted2 = words2.zipWithIndex.map { case (w, i) =>
      if (i % 3 == 0) w.reverse.toUpperCase else w
    }.mkString(" ")
    val b1 = Seq((401L, shifted2)).toDF("doc_id", "text")
    StreamingCorpusPipeline.processBatch(b1, 1L, fpPath, mhPath, None,
      vPath, cfg, winPath = Some(winPath))
    val v1 = spark.read.parquet(vPath).where("batch = 1").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1(401L) == "dup_winnow", s"growth: $v1")
  }

  test("line stage: boilerplate cleaning feeds the exact stage; survivors extend the line index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fpPath = Files.createTempDirectory("lp-fp").toString
    val mhPath = Files.createTempDirectory("lp-mh").toString
    val lnPath = Files.createTempDirectory("lp-ln").toString
    val vPath = Files.createTempDirectory("lp-v").toString
    val ckpt = Files.createTempDirectory("lp-ckpt").toString
    val banner = "please accept our cookie banner now"
    val seed = Seq((1L, A), (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    FingerprintIndex.build(seed, fpPath)
    MinHashIndex.build(seed, mhPath)
    graft.ext.LineIndex.build(Seq((900L, banner)).toDF("doc_id", "text"), lnPath)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    def verdicts(batch: Long): Map[Long, (String, Option[Long])] =
      spark.read.parquet(vPath).where(s"batch = $batch").collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap

    // batch 0: the banner line is boilerplate every doc carries; without
    // cleaning, 301's fingerprint would be unique and it would ship
    mem.addData(
      (301L, banner + "\n" + A), // cleaned == A → exact dup of indexed 1
      (302L, banner + "\n" + D), // cleaned == D → kept; line D enters the index
      (303L, "x y"),             // fails quality (raw text, pre-cleaning)
      (304L, banner + "\n" + E)) // cleaned == E → kept
    drain(StreamingCorpusPipeline.start(stream, fpPath, mhPath,
      None, vPath, ckpt, cfg, lnPath = Some(lnPath)))
    assert(verdicts(0) == Map(
      301L -> ("dup_exact", Some(1L)),
      302L -> ("kept", None),
      303L -> ("drop_quality", None),
      304L -> ("kept", None)), s"batch 0: ${verdicts(0)}")

    // batch 1: survivor 302's line D is NOW boilerplate — 401 sheds it
    // and convicts as an exact dup of seed 1 (without the survivor
    // append its cleaned text would be "D\nA", a unique fingerprint)
    mem.addData((401L, D + "\n" + A), (402L, F))
    drain(StreamingCorpusPipeline.start(stream, fpPath, mhPath,
      None, vPath, ckpt, cfg, lnPath = Some(lnPath)))
    assert(verdicts(1) == Map(
      401L -> ("dup_exact", Some(1L)),
      402L -> ("kept", None)), s"batch 1: ${verdicts(1)}")

    // the line index holds exactly {banner, D, E, F} — survivors' kept
    // lines only, never a dropped doc's
    def lineHashes: Set[String] = spark.read.parquet(s"$lnPath/lines")
      .select("lh").distinct().as[String].collect().toSet
    val expected = Seq(banner, D, E, F)
      .map(l => Seq((0L, l)).toDF("doc_id", "text")
        .select(md5(col("text").cast("binary"))).as[String].head()).toSet
    assert(lineHashes == expected, s"line index: $lineHashes")

    // replay batch 1: identical verdicts, identical index (overwrite-
    // per-segment + own-segment exclusion)
    StreamingCorpusPipeline.processBatch(
      Seq((401L, D + "\n" + A), (402L, F)).toDF("doc_id", "text"),
      1L, fpPath, mhPath, None, vPath, cfg, lnPath = Some(lnPath))
    assert(verdicts(1) == Map(
      401L -> ("dup_exact", Some(1L)),
      402L -> ("kept", None)), s"replayed batch 1: ${verdicts(1)}")
    assert(lineHashes == expected, "replay changed the line index")
  }

  test("no span index: contamination stage is a no-op, the rest unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fpPath = Files.createTempDirectory("cp2-fp").toString
    val mhPath = Files.createTempDirectory("cp2-mh").toString
    val vPath = Files.createTempDirectory("cp2-v").toString
    val seed = Seq((1L, A)).toDF("doc_id", "text")
    FingerprintIndex.build(seed, fpPath)
    MinHashIndex.build(seed, mhPath)
    StreamingCorpusPipeline.processBatch(
      Seq((101L, rnd(73, 20) + leak + rnd(74, 12)), (102L, E))
        .toDF("doc_id", "text"),
      0L, fpPath, mhPath, None, vPath, cfg)
    val got = spark.read.parquet(vPath).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the would-be-contaminated doc sails through without an index
    assert(got == Map(101L -> "kept", 102L -> "kept"), s"verdicts: $got")
  }

  test("deliveries with a winnow index leave no cache or persisted RDD behind") {
    import spark.implicits._
    val fpPath = Files.createTempDirectory("cpl-fp").toString
    val mhPath = Files.createTempDirectory("cpl-mh").toString
    val winPath = Files.createTempDirectory("cpl-win").toString
    val vPath = Files.createTempDirectory("cpl-v").toString
    val seed = Seq((1L, A)).toDF("doc_id", "text")
    FingerprintIndex.build(seed, fpPath)
    MinHashIndex.build(seed, mhPath)
    graft.ext.WinnowIndex.build(seed, winPath)
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val rddsBefore = sc.getPersistentRDDs.keySet
    // every stage convicts: exact vs the index, in-batch near pair
    // (a component solved on the driver), near vs the grown index
    StreamingCorpusPipeline.processBatch(
      Seq((101L, A), (102L, D), (103L, D1), (104L, E)).toDF("doc_id", "text"),
      0L, fpPath, mhPath, None, vPath, cfg, winPath = Some(winPath))
    StreamingCorpusPipeline.processBatch(
      Seq((201L, E1), (202L, F), (203L, D)).toDF("doc_id", "text"),
      1L, fpPath, mhPath, None, vPath, cfg, winPath = Some(winPath))
    val got = spark.read.parquet(vPath).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(101L -> "dup_exact", 102L -> "kept", 103L -> "dup_batch",
      104L -> "kept", 201L -> "dup_index", 202L -> "kept", 203L -> "dup_exact"),
      s"verdicts: $got")
    assert(spark.sharedState.cacheManager.isEmpty)
    val leaked = sc.getPersistentRDDs.keySet -- rddsBefore
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  test("bloom gate in the exact stage: verdicts identical to the plain run, replay-safe") {
    import spark.implicits._
    val vPlain = Files.createTempDirectory("cpb-vp").toString
    val vBloom = Files.createTempDirectory("cpb-vb").toString
    val seed = Seq((1L, A), (2L, D)).toDF("doc_id", "text")
    // one batch exercising exact-vs-index, exact-in-batch, near-dup and
    // kept verdicts, run through a plain index and a Bloom-gated one
    val batch = Seq((101L, A), (102L, E), (103L, E), (104L, A1), (105L, F))
      .toDF("doc_id", "text")
    def run(bloom: Boolean, vPath: String): Map[Long, (String, Option[Long])] = {
      val fpPath = Files.createTempDirectory("cpb-fp").toString
      val mhPath = Files.createTempDirectory("cpb-mh").toString
      FingerprintIndex.build(seed, fpPath, bloom = bloom)
      MinHashIndex.build(seed, mhPath)
      val c = cfg.copy(bloomGate = bloom)
      StreamingCorpusPipeline.processBatch(batch, 0L, fpPath, mhPath,
        None, vPath, c)
      // replay must be idempotent through the gate too (own-segment
      // exclusion applies to the sidecar listing as well)
      StreamingCorpusPipeline.processBatch(batch, 0L, fpPath, mhPath,
        None, vPath, c)
      spark.read.parquet(vPath).collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
    }
    val plain = run(bloom = false, vPlain)
    val gated = run(bloom = true, vBloom)
    assert(plain == gated, s"bloom gate changed verdicts: $plain vs $gated")
    assert(gated(101L) == (("dup_exact", Some(1L))), s"verdicts: $gated")
    assert(gated(103L) == (("dup_exact_batch", Some(102L))))
    assert(gated(105L)._1 == "kept")
  }

  test("trained classifier as the gauntlet's quality stage: model-scored drops, survivors still gated downstream") {
    import spark.implicits._
    // train the t28 trainer on planted style classes, then plug the
    // scored threshold into Config.quality — the FineWeb-Edu shape:
    // classifier-filtered docs never reach the dedup stages, and docs
    // that pass still face the exact gate
    val wordsGood = Seq("clear", "prose", "about", "real", "topics",
      "with", "substance", "and", "depth", "here")
    val wordsBad = Seq("buy", "cheap", "click", "now", "offer",
      "deal", "sale", "free", "win", "prize")
    def mk(ids: Range, ws: Seq[String]) = ids.map { i =>
      (i.toLong, (0 until 10).map(j => ws((i + j) % ws.length)).mkString(" "))
    }
    val model = graft.ext.TextAnalysis.trainLinear(
      mk(0 until 40, wordsGood).toDF("doc_id", "text"),
      mk(100 until 140, wordsBad).toDF("doc_id", "text"),
      dim = 16, steps = 25, lr = 2.0)
    val clsCfg = StreamingCorpusPipeline.Config(
      tau = 0.5,
      quality = d => graft.ext.TextAnalysis.scoreLinear(
        d, model.weights, model.bias)
        .select(col("doc_id"),
          when(col("score") >= 0.5, 1).otherwise(0).as("keep")))
    val fpPath = Files.createTempDirectory("cpq-fp").toString
    val mhPath = Files.createTempDirectory("cpq-mh").toString
    val vPath = Files.createTempDirectory("cpq-v").toString
    val goodSeed = mk(0 until 1, wordsGood)
    FingerprintIndex.build(goodSeed.toDF("doc_id", "text"), fpPath)
    MinHashIndex.build(goodSeed.toDF("doc_id", "text"), mhPath)
    // 201 = good style, fresh CONTENT (reversed word order: same
    // unigram profile → classifier passes; no shared trigram → the
    // dedup gates pass), 202 = bad style (classifier drop), 203 = good
    // style but an exact dup of the seed (exact gate binds AFTER the
    // classifier pass)
    val batch = Seq(
      (201L, wordsGood.reverse.mkString(" ")),
      (202L, mk(105 until 106, wordsBad).head._2),
      (203L, goodSeed.head._2)).toDF("doc_id", "text")
    StreamingCorpusPipeline.processBatch(batch, 0L, fpPath, mhPath,
      None, vPath, clsCfg)
    val got = spark.read.parquet(vPath).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(202L) == "drop_quality", s"classifier must drop bad style: $got")
    assert(got(203L) == "dup_exact",
      s"classifier-passed dup must still hit the exact gate: $got")
    assert(got(201L) == "kept", s"good fresh doc must survive: $got")
  }

  test("inParallel: failing task propagates with later failures suppressed, " +
    "all tasks run to completion") {
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val e = intercept[RuntimeException] {
      StreamingCorpusPipeline.inParallel(Seq(
        "boom1" -> (() => { ran.add("boom1"); throw new RuntimeException("boom1") }),
        "ok" -> (() => { Thread.sleep(50); ran.add("ok"): Unit }),
        "boom2" -> (() => { ran.add("boom2"); throw new RuntimeException("boom2") })))
    }
    // run-all-then-throw-first: every task completed despite the failures
    assert(ran.size == 3, s"all tasks must run to completion: $ran")
    // first failure propagates, the other failure rides as suppressed
    // (several concurrent appends failing at once — e.g. a shared-FS
    // outage — must not lose all but one exception)
    assert(Set("boom1", "boom2").contains(e.getMessage))
    assert(e.getSuppressed.length == 1, "second failure must be suppressed")
    assert(Set("boom1", "boom2") ==
      Set(e.getMessage, e.getSuppressed.head.getMessage))
  }

  test("inParallel: a hung task times out with the stuck task named") {
    val e = intercept[java.util.concurrent.TimeoutException] {
      StreamingCorpusPipeline.inParallel(Seq(
        "fast" -> (() => ()),
        "stuck" -> (() => Thread.sleep(30000)),
        "quick" -> (() => Thread.sleep(20))),
        timeout = scala.concurrent.duration.Duration(500, "ms"))
    }
    assert(e.getMessage.contains("stuck"),
      s"timeout must name the still-running task: ${e.getMessage}")
    assert(!e.getMessage.contains("fast") && !e.getMessage.contains("quick"),
      s"finished tasks must not be blamed: ${e.getMessage}")
  }

  test("inParallel: a timed-out call returns only after its stuck task saw " +
    "the interrupt and its Spark job ended as failed") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
    val sc = spark.sparkContext
    val interrupted = new AtomicBoolean(false)
    val job = new AtomicReference[String]("not started")
    StuckExecutorTask.interrupted.set(false)
    val t0 = System.nanoTime()
    val e = intercept[java.util.concurrent.TimeoutException] {
      StreamingCorpusPipeline.inParallel(Seq(
        "sleeper" -> (() =>
          try Thread.sleep(120000)
          catch { case _: InterruptedException => interrupted.set(true) }),
        "writer" -> (() => {
          sc.addJobTag("inParallel-spec-writer")
          job.set("running")
          try {
            spark.range(0, 1, 1, 1).foreach(_ => StuckExecutorTask.sleep())
            job.set("succeeded")
          } catch { case t: Throwable => job.set("failed"); throw t }
        })),
        timeout = scala.concurrent.duration.Duration(3, "s"))
    }
    val waited = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("sleeper") && e.getMessage.contains("writer"),
      e.getMessage)
    // the call waited for its pool: both tasks had finished by now
    assert(interrupted.get, "the stuck task must have seen its interrupt")
    assert(job.get == "failed", s"the Spark job must have failed: ${job.get}")
    assert(waited < 60, s"cancellation must not wait out the job: $waited s")
    // the status store and the executor task catch up asynchronously
    def within(sec: Int)(ok: => Boolean): Boolean = {
      val end = System.nanoTime() + sec * 1000000000L
      while (!ok && System.nanoTime() < end) Thread.sleep(100)
      ok
    }
    val ids = sc.statusTracker.getJobIdsForTag("inParallel-spec-writer")
    assert(ids.length == 1, ids.toSeq)
    assert(within(30)(sc.statusTracker.getJobInfo(ids.head)
      .exists(_.status == org.apache.spark.JobExecutionStatus.FAILED)))
    assert(within(30)(StuckExecutorTask.interrupted.get),
      "the cancelled job's executor task must be interrupted")
  }

  test("inParallel: stage labels record per thread; a task's nested label " +
    "is not billed to it") {
    import graft.ops.Debug
    val (_, stages) = Debug.recordStages(
      Debug.time("outer")(StreamingCorpusPipeline.inParallel(Seq(
        "x" -> (() => Debug.time("x")(Thread.sleep(50))),
        "y" -> (() => Debug.time("y")(Debug.time("z")(Thread.sleep(40))))))))
    val m = stages.toMap
    assert(m.keySet == Set("outer", "x", "y", "z"))
    assert(m("x") >= 0.05 && m("z") >= 0.04, m)
    assert(m("y") < 0.03, s"y's self time must exclude z: $m")
    // pool-thread seconds overlap the caller's: "outer" keeps its wall
    assert(m("outer") >= 0.05, m)
  }
}

/** Executor-side body of the inParallel cancellation spec: a task that
  * sleeps until interrupted, recording the interrupt where the driver
  * can see it (local mode, one JVM).
  */
object StuckExecutorTask {
  val interrupted = new java.util.concurrent.atomic.AtomicBoolean(false)

  def sleep(): Unit =
    try Thread.sleep(120000)
    catch { case _: InterruptedException => interrupted.set(true) }
}
