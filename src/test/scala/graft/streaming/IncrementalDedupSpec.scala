package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ext.MinHashIndex

/** Incremental corpus dedup: a persisted MinHash index, batch dedup
  * against it, and the streaming keeper rule (cross-drop → in-batch
  * components → append survivors), including exactly-once replay.
  *
  * Jaccards here are hand-computable: 10-word docs have 8 word
  * trigrams; identical text → 1.0, one trailing word changed →
  * 7/9 ≈ 0.78 (both ≥ tau 0.5); distinct texts share nothing.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    assert(q.awaitTermination(300000), "streaming query did not terminate")
    assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
  }

  private val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val B = "one two three four five six seven eight nine ten"
  private val C = "red orange yellow green blue indigo violet umber black white"
  private val D = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
  private val E = "north south east west up down left right fore aft"
  private val A1 = A.replace("kappa", "lambda") // 7/9 vs A

  test("build + load round-trip; dedupBatch reports cross pairs with exact jaccard") {
    import spark.implicits._
    val path = Files.createTempDirectory("mhidx").toString
    MinHashIndex.build(
      Seq((1L, A), (2L, B), (3L, C)).toDF("doc_id", "text"), path)
    val idx = MinHashIndex.load(spark, path)
    assert((idx.n, idx.k, idx.bands) == ((3, 128, 64)))
    val got = idx
      .dedupBatch(Seq((101L, A), (102L, A1), (103L, D)).toDF("doc_id", "text"),
        tau = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2))
      .toSeq
    assert(got.map(x => (x._1, x._2)) == Seq((101L, 1L), (102L, 1L)))
    assert(got(0)._3 == 1.0)
    assert(math.abs(got(1)._3 - 7.0 / 9.0) < 1e-12)
  }

  test("OPH-mode index: _params round-trip, verdicts == classic mode through build/append/dedupBatch, mixed-space impossible") {
    import spark.implicits._
    val corpus = Seq((1L, A), (2L, B), (3L, C)).toDF("doc_id", "text")
    val batch1 = Seq((101L, A), (102L, A1), (103L, D)).toDF("doc_id", "text")
    val batch2 = Seq((201L, D), (202L, E)).toDF("doc_id", "text")
    def lifecycle(sig: String): Seq[(Long, Long, Double)] = {
      val path = Files.createTempDirectory(s"mhidx$sig").toString
      MinHashIndex.build(corpus, path, sig = sig)
      val idx = MinHashIndex.load(spark, path)
      assert(idx.sigMode == sig, "signature mode must persist in _params")
      idx.append(batch1, seg = "b0")
      // the second batch must see batch1's appended docs through the
      // SAME signature space (a classic/OPH mix would silently lose
      // band collisions — the _params pin makes it unrepresentable)
      MinHashIndex.load(spark, path)
        .dedupBatch(batch2, tau = 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._2)).toSeq
    }
    val classic = lifecycle("classic")
    val oph = lifecycle("oph")
    // exact verify makes both modes return the identical pair set with
    // identical exact jaccards (201 matches the appended 103 at 1.0)
    assert(classic == oph, s"classic $classic != oph $oph")
    assert(classic.map(x => (x._1, x._2)) == Seq((201L, 103L)))
    assert(classic.head._3 == 1.0)
    // pre-sig-marker indexes load as classic (backward compatibility)
    val legacy = Files.createTempDirectory("mhlegacy").toString
    MinHashIndex.build(corpus, legacy)
    Files.write(java.nio.file.Paths.get(legacy, "_params"),
      "n=3\nk=128\nbands=64\n".getBytes)
    assert(MinHashIndex.load(spark, legacy).sigMode == "classic")
  }

  // run the streaming keeper rule under BOTH signature modes: the OPH
  // run proves the one-hash-per-shingle signature space rides the whole
  // streaming lifecycle (cross dedup, in-batch keeper, survivor append,
  // restart) with verdicts identical to classic
  for (sig <- Seq("classic", "oph"))
  test(s"streamed batches ($sig): cross-drop, in-batch keeper, survivors join the index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idxPath = Files.createTempDirectory("mhidx-s").toString
    val vPath = Files.createTempDirectory("mhv").toString
    val ckpt = Files.createTempDirectory("mhckpt").toString
    MinHashIndex.build(
      Seq((1L, A), (2L, B), (3L, C)).toDF("doc_id", "text"), idxPath,
      sig = sig)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")

    // batch 0: 101 dups the index (A), 102/103 dup each other (keeper
    // 102), 104 near-dups the index (A1 vs A)
    mem.addData((101L, A), (102L, D), (103L, D), (104L, A1))
    drain(StreamingDedup.start(stream, idxPath, vPath, ckpt, tau = 0.5))

    def verdicts(batch: Long): Map[Long, (String, Option[Long])] =
      spark.read.parquet(vPath)
        .where(s"batch = $batch")
        .collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
    assert(verdicts(0) == Map(
      101L -> ("dup_index", Some(1L)),
      102L -> ("kept", None),
      103L -> ("dup_batch", Some(102L)),
      104L -> ("dup_index", Some(1L))))

    // batch 1 (query restart from the same checkpoint): 201 dups the
    // doc kept in batch 0 — proving survivors were indexed; 203 is new
    mem.addData((201L, D), (202L, D), (203L, E))
    drain(StreamingDedup.start(stream, idxPath, vPath, ckpt, tau = 0.5))
    assert(verdicts(1) == Map(
      201L -> ("dup_index", Some(102L)),
      202L -> ("dup_index", Some(102L)),
      203L -> ("kept", None)))

    val indexed = MinHashIndex.load(spark, idxPath)
      .signatures.select("id").distinct().as[Long].collect().toSet
    assert(indexed == Set(1L, 2L, 3L, 102L, 203L))
  }

  test("compact folds appended segments into base; dedup verdicts identical") {
    import spark.implicits._
    val path = Files.createTempDirectory("mhidx-c").toString
    MinHashIndex.build(Seq((1L, A), (2L, B)).toDF("doc_id", "text"), path)
    val idx = MinHashIndex.load(spark, path)
    idx.append(Seq((10L, C)).toDF("doc_id", "text"), seg = "b0")
    idx.append(Seq((20L, D)).toDF("doc_id", "text"), seg = "b1")

    val probe = Seq((101L, A), (102L, C), (103L, D), (104L, E))
      .toDF("doc_id", "text")
    def verdicts(i: MinHashIndex): Seq[(Long, Long, Double)] =
      i.dedupBatch(probe, tau = 0.5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(x => (x._1, x._2)).toSeq
    val before = verdicts(idx)
    assert(before.map(v => (v._1, v._2)) == Seq((101L, 1L), (102L, 10L), (103L, 20L)))

    assert(idx.compact(Seq("b0", "b1")).sorted == Seq("b0", "b1"))
    for (t <- Seq("shingles", "sigs", "bands")) {
      val segs = Option(new java.io.File(s"$path/$t").listFiles)
        .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSet
      assert(segs == Set("seg=base"), s"$t should hold only base after the fold")
    }
    // a reloaded index over the folded layout reproduces every verdict
    assert(verdicts(MinHashIndex.load(spark, path)) == before)
    assert(idx.compact(Seq("b0", "b1")).isEmpty, "re-fold is a no-op")
  }

  test("compactCommitted folds only batches strictly older than the newest commit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idxPath = Files.createTempDirectory("mhidx-cc").toString
    val vPath = Files.createTempDirectory("mhv-cc").toString
    val ckpt = Files.createTempDirectory("mhckpt-cc").toString
    MinHashIndex.build(Seq((1L, A)).toDF("doc_id", "text"), idxPath)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    mem.addData((10L, B))
    drain(StreamingDedup.start(stream, idxPath, vPath, ckpt, tau = 0.5))
    mem.addData((20L, C))
    drain(StreamingDedup.start(stream, idxPath, vPath, ckpt, tau = 0.5))

    val idx = MinHashIndex.load(spark, idxPath)
    // commits 0 and 1 exist → fold b0 only; b1 stays replayable-shaped
    assert(idx.compactCommitted(ckpt) == Seq("b0"))
    val segs = Option(new java.io.File(s"$idxPath/bands").listFiles)
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSet
    assert(segs == Set("seg=base", "seg=b1"))

    // the stream keeps running over the compacted index: batch 2 sees
    // folded history (21 dups the batch-0 keeper now living in base)
    mem.addData((21L, B), (22L, D))
    drain(StreamingDedup.start(stream, idxPath, vPath, ckpt, tau = 0.5))
    val v2 = spark.read.parquet(vPath).where("batch = 2")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2 == Map(21L -> "dup_index", 22L -> "kept"))
    assert(MinHashIndex.load(spark, idxPath)
      .signatures.select("id").distinct().as[Long].collect().toSet ==
      Set(1L, 10L, 20L, 22L))
  }

  test("stream with compactEvery folds history; verdicts identical to uncompacted") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two identical three-wave streams, one with auto-compaction —
    // verdicts and final index content must match row for row
    def runStream(every: Int): (String, String) = {
      val idxPath = Files.createTempDirectory(s"mhidx-ac$every").toString
      val vPath = Files.createTempDirectory(s"mhv-ac$every").toString
      val ckpt = Files.createTempDirectory(s"mhckpt-ac$every").toString
      MinHashIndex.build(Seq((1L, A)).toDF("doc_id", "text"), idxPath)
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF().toDF("doc_id", "text")
      for (wave <- Seq(
          Seq((101L, A), (102L, D)),
          Seq((201L, D), (202L, E)),
          Seq((301L, E), (302L, A1), (303L, B)))) {
        mem.addData(wave: _*)
        drain(StreamingDedup.start(stream, idxPath, vPath, ckpt, tau = 0.5,
          compactEvery = every))
      }
      (idxPath, vPath)
    }
    val (idxPlain, vPlain) = runStream(0)
    val (idxComp, vComp) = runStream(1)

    def verdicts(p: String): Set[(Long, Long, String, Option[Long])] =
      spark.read.parquet(p)
        .selectExpr("CAST(batch AS BIGINT) AS b", "doc_id", "verdict", "dup_of")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(verdicts(vComp) == verdicts(vPlain),
      "auto-compaction changed a verdict")
    def ids(p: String): Set[Long] = MinHashIndex.load(spark, p)
      .signatures.select("id").distinct().as[Long].collect().toSet
    assert(ids(idxComp) == ids(idxPlain))

    // history actually folded: only base + the segments at-or-after the
    // newest commit may remain (b0/b1 folded after batch 2's fold ran
    // at commit boundary 1 → b0 folded; batch-2 fold has commits {0,1})
    val segs = Option(new java.io.File(s"$idxComp/bands").listFiles)
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSet
    assert(!segs.contains("seg=b0"), s"b0 survived auto-compaction: $segs")
    assert(segs.contains("seg=base"))
  }

  test("priority keepers: late-arriving trusted clone survives, in-batch election overrides min-id, replay idempotent") {
    import spark.implicits._
    val idxPath = Files.createTempDirectory("mhidx-p").toString
    val vPath = Files.createTempDirectory("mhv-p").toString
    // seed corpus is crawl (prio 1); the index carries priorities
    MinHashIndex.build(
      Seq((1L, A, 1.0), (2L, B, 1.0)).toDF("doc_id", "text", "prio"),
      idxPath, prioCol = Some("prio"))

    // batch 0, all crawl: 10 dups indexed 1 (equal priority → the
    // indexed survivor stays keeper); 11/12 dup each other in-batch
    // (equal priority → id tiebreak reproduces min-id)
    StreamingDedup.processBatch(
      Seq((10L, A, 1.0), (11L, D, 1.0), (12L, D, 1.0))
        .toDF("doc_id", "text", "prio"),
      0L, idxPath, vPath, tau = 0.5, prioCol = Some("prio"))

    def verdicts(batch: Long): Map[Long, (String, Option[Long])] =
      spark.read.parquet(vPath).where(s"batch = $batch").collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
    assert(verdicts(0) == Map(
      10L -> ("dup_index", Some(1L)),
      11L -> ("kept", None),
      12L -> ("dup_batch", Some(11L))))

    // batch 1: 20 is a LATE-ARRIVING TRUSTED clone of indexed 1 (prio 0
    // beats the indexed copy's 1 → kept, recorded keeper for its batch
    // forward, index NOT rewritten); 21 is a trusted clone of batch-0
    // survivor 11 (same — survivors carried prio 1 into the index);
    // 30/31 are a novel in-batch pair where the CURATED copy has the
    // LARGER id — the (priority, id) election must elect 31 over the
    // min-id convention's 30; 40 is a crawl re-delivery of indexed 1
    // (equal priority → drops, dup_of = the (prio, id)-min indexed match)
    val b1 = Seq((20L, A, 0.0), (21L, D, 0.0),
      (30L, E, 1.0), (31L, E, 0.0), (40L, A, 1.0))
      .toDF("doc_id", "text", "prio")
    StreamingDedup.processBatch(b1, 1L, idxPath, vPath, tau = 0.5,
      prioCol = Some("prio"))
    val expected1 = Map(
      20L -> ("kept", None),
      21L -> ("kept", None),
      30L -> ("dup_batch", Some(31L)),
      31L -> ("kept", None),
      40L -> ("dup_index", Some(1L)))
    assert(verdicts(1) == expected1)

    // no index rewrite: the displaced crawl copies 1 and 11 are still
    // indexed alongside their trusted clones
    val idx = MinHashIndex.load(spark, idxPath)
    assert(idx.signatures.select("id").distinct().as[Long].collect().toSet ==
      Set(1L, 2L, 11L, 20L, 21L, 31L))
    // priorities rode the appends: the trusted clones are prio 0
    val prios = idx.priorities().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prios(20L) == 0.0 && prios(31L) == 0.0 && prios(11L) == 1.0)

    // replay of batch 1 (at-least-once foreachBatch): own-segment
    // exclusion covers the prio table too, so the election reproduces
    // the exact same verdicts and the segment is rewritten, not doubled
    StreamingDedup.processBatch(b1, 1L, idxPath, vPath, tau = 0.5,
      prioCol = Some("prio"))
    assert(verdicts(1) == expected1)
    assert(MinHashIndex.load(spark, idxPath)
      .signatures.select("id").distinct().as[Long].collect().toSet ==
      Set(1L, 2L, 11L, 20L, 21L, 31L))

    // batch 2: a crawl clone of trusted keeper 20 resolves to 20 — the
    // (priority, id)-min election prefers the trusted copy over the
    // older min-id crawl copy 1 from that batch forward
    StreamingDedup.processBatch(
      Seq((50L, A, 1.0)).toDF("doc_id", "text", "prio"),
      2L, idxPath, vPath, tau = 0.5, prioCol = Some("prio"))
    assert(verdicts(2) == Map(50L -> ("dup_index", Some(20L))))
  }

  test("replaying a batch rewrites its segment and verdicts: exactly-once") {
    import spark.implicits._
    val idxPath = Files.createTempDirectory("mhidx-r").toString
    val vPath = Files.createTempDirectory("mhv-r").toString
    MinHashIndex.build(Seq((1L, A)).toDF("doc_id", "text"), idxPath)
    val batch = Seq((10L, B), (11L, B)).toDF("doc_id", "text")

    StreamingDedup.processBatch(batch, 7L, idxPath, vPath, tau = 0.5)
    StreamingDedup.processBatch(batch, 7L, idxPath, vPath, tau = 0.5)

    val idx = MinHashIndex.load(spark, idxPath)
    // base(1) + keeper 10 — NOT doubled by the replay
    assert(idx.signatures.count() == 2)
    assert(idx.signatures.select("id").distinct().as[Long].collect().toSet ==
      Set(1L, 10L))
    val v = spark.read.parquet(vPath).where("batch = 7")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v == Map(10L -> "kept", 11L -> "dup_batch"))
  }

  /** A verdict path under a regular file: the verdict write fails
    * after every stage frame has been built and cached.
    */
  private def unwritablePath(): String =
    Files.createTempFile("verdicts", ".file").toString + "/v"

  test("a failing verdict write leaves no StreamingDedup cache behind") {
    import spark.implicits._
    val idxPath = Files.createTempDirectory("mhidx-f").toString
    MinHashIndex.build(Seq((1L, A)).toDF("doc_id", "text"), idxPath)
    val batch = Seq((10L, A1), (11L, B), (12L, B)).toDF("doc_id", "text")
    spark.catalog.clearCache()
    intercept[Exception](
      StreamingDedup.processBatch(batch, 0L, idxPath, unwritablePath(), tau = 0.5))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a failing verdict write leaves no StreamingWinnowDedup cache behind") {
    import spark.implicits._
    val idxPath = Files.createTempDirectory("winidx-f").toString
    graft.ext.WinnowIndex.build(Seq((1L, A)).toDF("doc_id", "text"), idxPath)
    val batch = Seq((10L, A1), (11L, B), (12L, B)).toDF("doc_id", "text")
    spark.catalog.clearCache()
    intercept[Exception](
      StreamingWinnowDedup.processBatch(batch, 0L, idxPath, unwritablePath(), tau = 0.5))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("streaming line dedup: history + in-batch repeats shed, replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idxPath = Files.createTempDirectory("lineidx-s").toString
    val outPath = Files.createTempDirectory("lineout").toString
    val ckpt = Files.createTempDirectory("lineckpt").toString
    graft.ext.LineIndex.build(
      Seq((1L, "seed boilerplate banner line\nseed unique content line one"))
        .toDF("doc_id", "text"),
      idxPath, minLen = 10)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")

    // batch 0: 10 repeats the seed banner + adds a fresh line; 11
    // repeats 10's fresh line in-batch and adds its own
    mem.addData(
      (10L, "seed boilerplate banner line\nfresh delivery line alpha"),
      (11L, "fresh delivery line alpha\nfresh delivery line beta"))
    drain(StreamingLineDedup.start(stream, idxPath, outPath, ckpt))
    def cleaned(batch: Long): Map[Long, String] =
      spark.read.parquet(s"$outPath/batch=$batch")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(0) == Map(
      10L -> "fresh delivery line alpha",
      11L -> "fresh delivery line beta"))

    // batch 1 (restart from the same checkpoint): 20 repeats batch 0's
    // keeper line — proving kept lines were indexed — plus one new line
    mem.addData((20L, "fresh delivery line alpha\nbrand new line gamma"))
    drain(StreamingLineDedup.start(stream, idxPath, outPath, ckpt))
    assert(cleaned(1) == Map(20L -> "brand new line gamma"))

    // replay of batch 0 (processBatch twice): own-segment exclusion +
    // overwrite dirs reproduce the identical cleaning, nothing doubles
    val b0 = Seq(
      (10L, "seed boilerplate banner line\nfresh delivery line alpha"),
      (11L, "fresh delivery line alpha\nfresh delivery line beta"))
      .toDF("doc_id", "text")
    StreamingLineDedup.processBatch(b0, 0L, idxPath, outPath)
    assert(cleaned(0) == Map(
      10L -> "fresh delivery line alpha",
      11L -> "fresh delivery line beta"))
    val idxRows = spark.read.parquet(s"$idxPath/lines")
      .where("seg = 'b0'").count()
    assert(idxRows == 2, s"replayed segment must hold exactly its 2 kept lines, got $idxRows")
  }

  test("streaming line dedup with priorities: trusted doc keeps the line, " +
    "indexed wins cross-batch, replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idxPath = Files.createTempDirectory("lineidx-p").toString
    val outPath = Files.createTempDirectory("lineout-p").toString
    val ckpt = Files.createTempDirectory("lineckpt-p").toString
    graft.ext.LineIndex.build(
      Seq((1L, "seed boilerplate banner line")).toDF("doc_id", "text"),
      idxPath, minLen = 10)

    val mem = MemoryStream[(Long, String, Double)]
    val stream = mem.toDF().toDF("doc_id", "text", "prio")

    // batch 0: 10 (crawl, prio 1, smaller id) and 20 (curated, prio 0,
    // LARGER id) share a line — min-id would keep it in 10; the
    // (prio, id, idx) election must keep it in 20 and shed it from 10
    mem.addData(
      (10L, "contested shared line alpha\ncrawl only line one", 1.0),
      (20L, "contested shared line alpha\ncurated only line two", 0.0))
    drain(StreamingLineDedup.start(stream, idxPath, outPath, ckpt,
      prioCol = Some("prio")))
    def cleaned(batch: Long): Map[Long, String] =
      spark.read.parquet(s"$outPath/batch=$batch")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(0) == Map(
      10L -> "crawl only line one",
      20L -> "contested shared line alpha\ncurated only line two"))

    // batch 1: a MORE-trusted copy of an indexed line still sheds —
    // across batches the indexed line always wins (no keeper identity in
    // the index, no retraction of published batch dirs; the deliberate
    // opposite of StreamingDedup's forward-only doc election)
    mem.addData((30L, "contested shared line alpha\nbatch one line gamma", 0.0))
    drain(StreamingLineDedup.start(stream, idxPath, outPath, ckpt,
      prioCol = Some("prio")))
    assert(cleaned(1) == Map(30L -> "batch one line gamma"))

    // replay of batch 0: own-segment exclusion reproduces the election
    val b0 = Seq(
      (10L, "contested shared line alpha\ncrawl only line one", 1.0),
      (20L, "contested shared line alpha\ncurated only line two", 0.0))
      .toDF("doc_id", "text", "prio")
    StreamingLineDedup.processBatch(b0, 0L, idxPath, outPath, Some("prio"))
    assert(cleaned(0) == Map(
      10L -> "crawl only line one",
      20L -> "contested shared line alpha\ncurated only line two"))
  }

  test("streaming ngram stats: merged == whole-corpus recount, replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idxPath = Files.createTempDirectory("ngramidx-s").toString
    val snapPath = Files.createTempDirectory("ngramsnap").toString
    val ckpt = Files.createTempDirectory("ngramckpt").toString
    graft.ext.NgramIndex.build(
      Seq((1L, A), (2L, B)).toDF("doc_id", "text"), idxPath, n = 2)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")

    // two deliveries: 10 repeats A's grams (tf doubles, df doubles);
    // 11/20 bring fresh vocabularies
    mem.addData((10L, A), (11L, C))
    drain(StreamingNgramStats.start(stream, idxPath, ckpt,
      snapshotPath = Some(snapPath), k = 100))
    mem.addData((20L, D))
    drain(StreamingNgramStats.start(stream, idxPath, ckpt,
      snapshotPath = Some(snapPath), k = 100))

    // the merged statistics equal a from-scratch batch recount over the
    // union of everything ever delivered — the exactness claim
    val all = Seq((1L, A), (2L, B), (10L, A), (11L, C), (20L, D))
      .toDF("doc_id", "text")
    def stats(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val merged = stats(graft.ext.NgramIndex.load(spark, idxPath).merged)
    val recount = stats(graft.ext.TextAnalysis.topNgrams(all, n = 2,
      topK = Int.MaxValue))
    assert(merged == recount, "merged stats diverge from batch recount")
    // A's grams counted twice (seed + delivery), df = 2
    assert(merged.contains(("alpha beta", 2L, 2L)))

    // each snapshot reflects the corpus AS OF its delivery: batch 0
    // pre-dates doc 20, batch 1 holds everything
    val snap0 = stats(spark.read.parquet(s"$snapPath/batch=0"))
    val asOf0 = stats(graft.ext.TextAnalysis.topNgrams(
      all.where($"doc_id" =!= 20L), n = 2, topK = Int.MaxValue))
    assert(snap0 == asOf0, "batch-0 snapshot diverges from as-of recount")
    assert(stats(spark.read.parquet(s"$snapPath/batch=1")) == recount,
      "batch-1 snapshot diverges from the full recount")

    // replay of batch 0: overwrite-per-segment keeps counts exact
    val b0 = Seq((10L, A), (11L, C)).toDF("doc_id", "text")
    StreamingNgramStats.processBatch(b0, 0L, idxPath)
    val replayed = stats(graft.ext.NgramIndex.load(spark, idxPath).merged)
    assert(replayed == recount, "replay double-counted a segment")
  }

  test("streaming winnow dedup: cross + in-batch keepers, replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idxPath = Files.createTempDirectory("winidx-s").toString
    val vPath = Files.createTempDirectory("winout").toString
    val ckpt = Files.createTempDirectory("winckpt").toString
    val base = "the committee reviewed the quarterly projections and approved " +
      "the revised capital allocation plan for the northern region offices"
    val fresh = "completely novel text about alpine glaciers retreating over " +
      "granite ridges under a warming spring sun this season"
    graft.ext.WinnowIndex.build(Seq((1L, base)).toDF("doc_id", "text"), idxPath)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    def verdicts(batch: Long): Map[Long, String] =
      spark.read.parquet(s"$vPath/batch=$batch")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    // batch 0: near-dup of the seed drops (cross); two in-batch
    // near-dups resolve to the min-id keeper; fresh content keeps
    mem.addData(
      (10L, base.replace("northern", "southern")),
      (11L, fresh),
      (12L, fresh.replace("spring", "summer")))
    drain(StreamingWinnowDedup.start(stream, idxPath, vPath, ckpt, tau = 0.5))
    assert(verdicts(0) == Map(10L -> "dup_index", 11L -> "kept",
      12L -> "dup_batch"), s"batch 0: ${verdicts(0)}")

    // batch 1: survivor 11 is now indexed — its near-dup convicts cross
    mem.addData((20L, fresh.replace("warming", "whirling")))
    drain(StreamingWinnowDedup.start(stream, idxPath, vPath, ckpt, tau = 0.5))
    assert(verdicts(1) == Map(20L -> "dup_index"), s"batch 1: ${verdicts(1)}")

    // replay of batch 0: own-segment exclusion + overwrite dirs
    // reproduce identical verdicts; the segment holds only survivor 11
    StreamingWinnowDedup.processBatch(
      Seq((10L, base.replace("northern", "southern")), (11L, fresh),
        (12L, fresh.replace("spring", "summer"))).toDF("doc_id", "text"),
      0L, idxPath, vPath, tau = 0.5)
    assert(verdicts(0) == Map(10L -> "dup_index", 11L -> "kept",
      12L -> "dup_batch"), s"replay: ${verdicts(0)}")
    val segIds = spark.read.parquet(s"$idxPath/fps").where("seg = 'b0'")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(segIds == Set(11L), s"replayed segment: $segIds")
  }

  test("streaming winnow dedup with priorities: trusted clone kept, in-batch election beats min-id, replay idempotent") {
    import spark.implicits._
    val idxPath = Files.createTempDirectory("winidx-p").toString
    val vPath = Files.createTempDirectory("winout-p").toString
    val base = "the committee reviewed the quarterly projections and approved " +
      "the revised capital allocation plan for the northern region offices"
    val fresh = "completely novel text about alpine glaciers retreating over " +
      "granite ridges under a warming spring sun this season"
    graft.ext.WinnowIndex.build(
      Seq((1L, base, 1.0)).toDF("doc_id", "text", "prio"), idxPath,
      prioCol = Some("prio"))
    def verdicts(batch: Long): Map[Long, (String, Option[Long])] =
      spark.read.parquet(s"$vPath/batch=$batch").collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap

    // 10: TRUSTED near-clone of indexed crawl 1 — kept (prio 0 beats
    //     the indexed copy's 1, no index rewrite);
    // 11/12: novel in-batch near pair where the CURATED copy has the
    //     LARGER id — the election must pick 12 over min-id 11;
    // 13: crawl near-clone of indexed 1 — drops, ref 1
    val b0 = Seq(
      (10L, base.replace("northern", "eastern"), 0.0),
      (11L, fresh, 1.0),
      (12L, fresh.replace("spring", "summer"), 0.0),
      (13L, base.replace("northern", "western"), 1.0))
      .toDF("doc_id", "text", "prio")
    StreamingWinnowDedup.processBatch(b0, 0L, idxPath, vPath, tau = 0.5,
      prioCol = Some("prio"))
    val expected = Map(
      10L -> ("kept", None),
      11L -> ("dup_batch", Some(12L)),
      12L -> ("kept", None),
      13L -> ("dup_index", Some(1L)))
    assert(verdicts(0) == expected, s"batch 0: ${verdicts(0)}")
    // priorities rode the append; the displaced crawl copy 1 stays
    val idx = graft.ext.WinnowIndex.load(spark, idxPath)
    val prios = idx.priorities().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prios == Map(1L -> 1.0, 10L -> 0.0, 12L -> 0.0), s"prios: $prios")

    // replay: prio table excluded with the rest — identical verdicts
    StreamingWinnowDedup.processBatch(b0, 0L, idxPath, vPath, tau = 0.5,
      prioCol = Some("prio"))
    assert(verdicts(0) == expected, s"replay: ${verdicts(0)}")

    // batch 1: a crawl near-clone of trusted keeper 10 resolves to the
    // (prio, id)-min match — 10, not the older min-id crawl copy 1
    StreamingWinnowDedup.processBatch(
      Seq((20L, base.replace("northern", "easterly"), 1.0))
        .toDF("doc_id", "text", "prio"),
      1L, idxPath, vPath, tau = 0.5, prioCol = Some("prio"))
    assert(verdicts(1) == Map(20L -> ("dup_index", Some(10L))),
      s"batch 1: ${verdicts(1)}")
  }

  test("span decontamination rides foreachBatch: per-delivery checks, no state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val leak = rnd(50, 60)
    val benchDoc = rnd(51, 15) + leak + rnd(52, 30)
    val idxPath = Files.createTempDirectory("spanidx-s").toString
    val outPath = Files.createTempDirectory("spanout").toString
    graft.ext.SpanIndex.build(
      Seq((100L, benchDoc)).toDF("doc_id", "text"), idxPath, prefix = "")
    val idx = graft.ext.SpanIndex.load(spark, idxPath)

    // the DEDUP.md wiring claim, literally: a delivery stream checked
    // against the persisted eval index in foreachBatch — stateless per
    // delivery (no checkpoint-carried store; re-running a batch
    // re-derives identical flags from the immutable index)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        idx.check(batch)
          .withColumn("batch", org.apache.spark.sql.functions.lit(id))
          .write.mode("append").parquet(outPath)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    mem.addData(
      (1L, rnd(53, 25) + leak + rnd(54, 10)), // leaks the eval span
      (2L, rnd(55, 80)))                      // clean
    drain(q)

    val flagged = spark.read.parquet(outPath)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // span ≥ the 60-char leak (a coincidental boundary-char match in the
    // random filler can legitimately extend it by one); only the leaking
    // doc pairs
    assert(flagged.map(t => (t._1, t._2)) == Set((1L, 100L)), s"$flagged")
    assert(flagged.forall(_._3 >= 60L), s"$flagged")
    // batch-mode equivalence: the stream's flags are exactly the batch
    // operator's answer for the same delivery
    val direct = graft.ext.Dedup.charGramSpansAgainst(
        Seq((1L, rnd(53, 25) + leak + rnd(54, 10)), (2L, rnd(55, 80)))
          .toDF("doc_id", "text"),
        Seq((100L, benchDoc)).toDF("doc_id", "text"), prefix = "")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(flagged == direct)
  }
}
