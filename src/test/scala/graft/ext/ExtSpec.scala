package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Extension operators validated against brute force on the sf0.001
  * fixtures (plus synthetic controlled cases).
  */
class ExtSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = graft.ops.Io.readTable(spark, dir, "documents").cache()
  private lazy val emb = graft.ops.Io.readTable(spark, dir, "embeddings").cache()

  test("qualityAttrition: null text fails its stage instead of surviving the chain") {
    val d = Seq(
      (1L, "the a and of to in is it you that was for on are", 48L), // passes all
      (2L, "x", 1L),                                // fails min_chars
      (3L, null.asInstanceOf[String], 200L))        // null text: fails lang stage
      .toDF("doc_id", "text", "n_chars")
    val got = Curation.qualityAttrition(d, Seq(
      "min_chars" -> (col("n_chars") >= 10),
      "lang_known" -> (TextAnalysis.langId(col("text")) =!= "und")))
      .orderBy("stage_idx").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // doc 3 enters lang_known (its n_chars passed) and must be DROPPED
    // there — before the null fix it counted as surviving everything
    assert(got.toSeq == Seq(
      ("min_chars", 3L, 2L, 1L),
      ("lang_known", 2L, 1L, 1L)), s"wrong attrition: ${got.toSeq}")
  }

  test("stratifiedSample: fraction just under 1.0 keeps ~everything (threshold clamp)") {
    val d = (0L until 64L).map(i => (i, "en")).toDF("doc_id", "lang")
    val kept = Curation.stratifiedSample(d, Map("en" -> (1.0 - 1e-12))).count()
    // pre-clamp this formatted a 9-hex-char threshold and kept only
    // hashes starting with '0' (~1/16); the clamp keeps all but hashes
    // equal to ffffffff (none among 64 ids)
    assert(kept == 64L, s"clamped threshold dropped docs: $kept/64")
    // and a genuine fraction still selects a strict, stable subset
    val half = Curation.stratifiedSample(d, Map("en" -> 0.5)).count()
    assert(half > 0 && half < 64, s"f=0.5 kept $half/64")
    assert(Curation.stratifiedSample(d, Map("en" -> 0.5)).count() == half)
  }

  test("contamination: synthetic overlap found, clean docs absent, counts exact") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six seven")).toDF("doc_id", "text")
    val train = Seq(
      // shares the 5-grams starting at alpha and beta with bench 100
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      // clean
      (2L, "completely unrelated text with no overlap at all whatsoever"),
      // shares exactly one 5-gram with bench 101
      (3L, "zzz one two three four five yyy")).toDF("doc_id", "text")
    val got = Curation.contamination(train, bench, n = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> ((2L, 100L)), // "alpha..epsilon" and "beta..zeta"
      3L -> ((1L, 101L))))
  }

  test("capPerSource: at most k per source, deterministic across runs, ranks dense") {
    val capped = Curation.capPerSource(docs, k = 10)
    val bySrc = capped.groupBy("source").agg(
      count(lit(1)).as("n"), max("rk").as("mx")).collect()
    assert(bySrc.nonEmpty)
    bySrc.foreach { r =>
      assert(r.getLong(1) <= 10)
      assert(r.getInt(2).toLong == r.getLong(1)) // ranks 1..n, dense
    }
    // deterministic: a rerun picks the identical sample
    val a = capped.collect().map(_.getLong(0)).toSet
    val b = Curation.capPerSource(docs, k = 10).collect().map(_.getLong(0)).toSet
    assert(a == b)
    // a source with more than k docs is actually capped
    val srcCounts = docs.groupBy("source").count().collect()
    if (srcCounts.exists(_.getLong(1) > 10))
      assert(capped.count() < docs.count())
  }

  test("packChunks: spans cover every token once, chunks respect the budget") {
    val b = 512L
    val packed = Curation.packChunks(docs, budget = b).cache()
    val toks = docs.select(col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).cast("long").as("toks"))
    // every non-empty doc's token range is covered exactly, in order
    val perDoc = packed.groupBy("doc_id")
      .agg(sum(col("tok_to") - col("tok_from")).as("covered"),
        min("tok_from").as("first"), count(lit(1)).as("pieces"))
      .join(toks, "doc_id").collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { r =>
      assert(r.getAs[Long]("covered") == r.getAs[Long]("toks"))
      assert(r.getAs[Long]("first") == 0L)
    }
    // every chunk holds exactly `budget` tokens except each source's last
    val perChunk = packed.groupBy("source", "chunk_id")
      .agg(sum(col("tok_to") - col("tok_from")).as("filled")).cache()
    val lastChunk = perChunk.groupBy("source").agg(max("chunk_id").as("last"))
    val nonLast = perChunk.join(lastChunk, "source")
      .where(col("chunk_id") =!= col("last"))
    assert(nonLast.where(col("filled") =!= b).isEmpty)
    assert(perChunk.where(col("filled") > b).isEmpty)
    // deterministic: rerun is identical
    val a = packed.collect().map(_.toSeq).toSet
    val c = Curation.packChunks(docs, budget = b).collect().map(_.toSeq).toSet
    assert(a == c)
  }

  test("two-phase prefix sums: a 90%-skewed source spans shards, sums exact") {
    import org.apache.spark.sql.expressions.Window
    // 1 source = 90% of docs — the Zipfian shape that serializes a
    // plain per-source window on one reducer
    val rows = (0 until 2000).map { i =>
      val src = if (i < 1800) "crawl" else s"s${i % 4}"
      (src, i.toLong, (i % 7 + 1).toLong)
    }.toDF("source", "doc_id", "toks")

    val got = Curation.prefixSums(rows, "source", "toks", Seq(col("doc_id")))
    // exact vs the single-window spelling, row for row
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = rows.withColumn("cum", sum(col("toks")).over(w))
    assert(got.select("source", "doc_id", "toks", "cum").except(ref).isEmpty
      && ref.except(got.select("source", "doc_id", "toks", "cum")).isEmpty)

    // the skewed source must actually spread: > 1 shard, and no shard
    // task holds anything close to the whole source
    val byShard = got.where(col("source") === "crawl")
      .groupBy("__shard").count().collect().map(_.getLong(1))
    assert(byShard.length > 1,
      s"skewed source landed in ${byShard.length} shard(s) — two-phase scan not sharding")
    assert(byShard.max < 1800,
      s"one shard holds ${byShard.max}/1800 of the skewed source")

    // order keys with direction (the tokenBudgetSelect shape) shard too
    val got2 = Curation.prefixSums(
      rows.withColumn("q", (col("doc_id") % 13).cast("double")),
      "source", "toks", Seq(col("q").desc, col("doc_id")))
    val w2 = Window.partitionBy("source").orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref2 = rows.withColumn("q", (col("doc_id") % 13).cast("double"))
      .withColumn("cum", sum(col("toks")).over(w2))
    assert(got2.select("source", "doc_id", "toks", "q", "cum").except(ref2).isEmpty
      && ref2.except(got2.select("source", "doc_id", "toks", "q", "cum")).isEmpty)
  }

  test("score buckets: even tiers, rank ties broken by id, window-reference exact") {
    import org.apache.spark.sql.expressions.Window
    // 10 docs in one source + 7 in another (n not divisible by 3 —
    // exercises the remainder spread), scores with a tie
    val rows = ((0 until 10).map(i => ("s1", i.toLong, (i % 5).toDouble)) ++
      (0 until 7).map(i => ("s2", 100L + i, (7 - i).toDouble)))
      .toDF("source", "doc_id", "score")
    val got = Curation.bucketByScore(rows, buckets = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(3)).toMap
    val w = Window.partitionBy("source").orderBy("score", "doc_id")
    val ref = rows
      .withColumn("rnk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .select(col("source"), col("doc_id"),
        (floor((col("rnk") - 1L) * 3L / col("n")) + 1L).cast("int").as("tier"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == ref, s"tier mismatch: ${got.toSeq.sorted} vs ${ref.toSeq.sorted}")
    // equal-frequency contract: per-source tier sizes differ by ≤ 1
    Seq("s1", "s2").foreach { s =>
      val sizes = got.collect { case ((`s`, _), t) => t }
        .groupBy(identity).view.mapValues(_.size).values.toSeq
      assert(sizes.max - sizes.min <= 1, s"$s tier sizes: $sizes")
    }
    // descending mode flips the ranking (best = highest score)
    val desc = Curation.bucketByScore(rows.where(col("source") === "s2"),
        buckets = 3, ascending = false)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    assert(desc(100L) == 1 && desc(106L) == 3, s"descending tiers: $desc")
  }

  test("bucketByScoreApprox: agrees with exact off tie boundaries, ties stay together") {
    // distinct scores → with accuracy ≫ n the sketch is rank-exact, so
    // tiers must MATCH bucketByScore row for row (the d40/d72 twin gate)
    val rows = ((0 until 30).map(i => ("s1", i.toLong, i.toDouble * 1.5)) ++
      (0 until 14).map(i => ("s2", 100L + i, (50 - i).toDouble)))
      .toDF("source", "doc_id", "score")
    val approx = Curation.bucketByScoreApprox(rows, buckets = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(3)).toMap
    val exact = Curation.bucketByScore(rows, buckets = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(3)).toMap
    assert(approx.keySet == exact.keySet)
    val agree = approx.count { case (k, t) => exact(k) == t }
    // threshold elements themselves may sit on either side of a
    // boundary; everything else must agree
    assert(agree >= approx.size - 4, s"agreement $agree/${approx.size}")
    // tiers are monotone in score within a source (exact property of
    // threshold assignment, whatever the sketch error)
    val byScore = rows.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(t =>
        approx((t._1, t._2))).toSeq)
    byScore.foreach { case (s, tiers) =>
      assert(tiers == tiers.sorted, s"$s tiers not monotone: $tiers")
      assert(tiers.head == 1 && tiers.last == 3, s"$s tier range: $tiers")
    }
    // a tie group never splits: all-equal scores land in ONE tier
    // (where the exact rank splits them by doc_id — the documented
    // semantic difference)
    val tied = (0 until 12).map(i => ("t", i.toLong, 7.0))
      .toDF("source", "doc_id", "score")
    val tt = Curation.bucketByScoreApprox(tied, buckets = 3)
      .select("tier").distinct().collect().map(_.getInt(0)).toSeq
    assert(tt == Seq(1), s"tied scores split across tiers: $tt")
    // descending flips which end is tier 1
    val desc = Curation.bucketByScoreApprox(
      rows.where(col("source") === "s2"), buckets = 3, ascending = false)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    assert(desc(100L) == 1 && desc(113L) == 3, s"descending tiers: $desc")
  }

  test("upsampleQuotas: sum(copies) == quota; downsampled source == temperatureSample") {
    // 90/10 split at a target that downsamples the big source (drop
    // path binds: copies = 0 rows vanish) and upsamples the small one
    val d = ((0 until 90).map(i => (i.toLong, "big")) ++
      (0 until 10).map(i => (1000L + i, "small"))).toDF("doc_id", "source")
    val got = Curation.upsampleQuotas(d, tau = 0.5, target = 40).cache()
    val bySrc = got.groupBy("source")
      .agg(sum("copies").as("c"), max("quota").as("q"), count(lit(1)).as("rows"),
        min("copies").as("mn"), max("copies").as("mx"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // sqrt(90):sqrt(10) → w = .75/.25 → quotas 30 and 10
    assert(bySrc("big") == ((30L, 30L, 30L, 1L, 1L)), s"big: $bySrc")
    // small: quota 10 == n → exactly one epoch, nobody dropped
    assert(bySrc("small") == ((10L, 10L, 10L, 1L, 1L)), s"small: $bySrc")
    // big is DOWNSAMPLED: kept set identical to temperatureSample's
    val kept = got.where(col("source") === "big")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ref = Curation.temperatureSample(d, 0.5, target = 40)
      .where(col("source") === "big")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == ref, "downsampled kept set diverges from temperatureSample")
    // a genuinely multi-epoch case: tiny source, huge target
    val up = Curation.upsampleQuotas(d, tau = 0.0, target = 200)
    val small = up.where(col("source") === "small")
      .agg(sum("copies"), min("copies"), max("copies")).head()
    // tau=0: w = .5/.5 → quota 100 over 10 docs = 10 epochs each
    assert(small.getLong(0) == 100L && small.getLong(1) == 10L &&
      small.getLong(2) == 10L, s"multi-epoch: $small")
    got.unpersist(blocking = true): Unit
  }

  test("NgramIndex: merged topK == batch topNgrams; replay and fold are invisible") {
    val path = java.nio.file.Files.createTempDirectory("graft-ngram-spec").toString
    val a = docs.where(col("doc_id") % 2 === 0)
    val b = docs.where(col("doc_id") % 2 =!= 0)
    NgramIndex.build(a, path, n = 2)
    val idx = NgramIndex.load(spark, path)
    idx.append(b, seg = "b0")
    def top() = idx.topK(40).collect().map(_.toSeq).toSeq
    val ref = TextAnalysis.topNgrams(docs, n = 2, topK = 40)
      .collect().map(_.toSeq).toSeq
    assert(top() == ref, "merged stats != whole-corpus batch operator")
    // replay: overwriting the same segment must not double-count
    idx.append(b, seg = "b0")
    assert(top() == ref, "replayed append double-counted")
    // fold: compaction moves rows between partitions, stats unchanged
    assert(idx.compact(Seq("b0")) == Seq("b0"))
    assert(top() == ref, "fold changed the merged statistics")
    // reload picks n from _params
    assert(NgramIndex.load(spark, path).n == 2)
  }

  test("exactGroupsPriority: trusted source wins over smaller id; ties fall back to id") {
    val d = Seq(
      (1L, "shared content", 1L),  // crawl copy, smallest id
      (9L, "shared content", 0L),  // curated copy, larger id — must win
      (5L, "shared content", 1L),  // second crawl copy
      (2L, "unique text", 1L),
      (3L, "other shared", 1L),    // equal priorities: min id wins
      (7L, "other shared", 1L))
      .toDF("doc_id", "text", "prio")
    val got = Dedup.exactGroupsPriority(d, "prio")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((9L, 3L), (2L, 1L), (3L, 2L)),
      s"wrong keepers: $got")
    // equal priorities everywhere == exactGroups exactly
    val flat = d.withColumn("prio", lit(1L))
    val a = Dedup.exactGroupsPriority(flat, "prio")
      .select("fp", "keeper", "n").collect().map(_.toSeq).toSet
    val b = Dedup.exactGroups(d)
      .select("fp", "keeper", "n").collect().map(_.toSeq).toSet
    assert(a == b)
    // fractional priorities keep their order (compared as doubles, not
    // truncated to long — 1.2 vs 1.9 must NOT collapse to a tie)…
    val frac = Seq((1L, "dup", 1.9), (2L, "dup", 1.2))
      .toDF("doc_id", "text", "prio")
    val fk = Dedup.exactGroupsPriority(frac, "prio")
      .collect().map(_.getLong(1)).toSet
    assert(fk == Set(2L), s"fractional priority truncated: $fk")
    // …and a NULL priority LOSES the election instead of winning it
    // (struct-min would sort the null first)
    val withNull = Seq(
      (1L, "dup", Some(5.0)), (2L, "dup", None: Option[Double]))
      .toDF("doc_id", "text", "prio")
    val nk = Dedup.exactGroupsPriority(withNull, "prio")
      .collect().map(_.getLong(1)).toSet
    assert(nk == Set(1L), s"null priority won the election: $nk")
  }

  test("clusterKeepersPriority: each component elects its priority-min member") {
    // components {1,2,3} (chain) and {10, 11}; priorities make 3 and 10
    // the keepers — 3 is NOT the root of its component, which is the
    // point: the election must override the min-id root
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val prio = Seq((1L, 5L), (2L, 5L), (3L, 0L), (10L, 1L), (11L, 2L))
      .toDF("doc_id", "priority")
    val got = Dedup.clusterKeepersPriority(pairs, prio)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      10L -> ((10L, 10L)), 11L -> ((10L, 10L))), s"wrong election: $got")
    // priority ties: id breaks them (min id of the tied best)
    val prio2 = Seq((1L, 5L), (2L, 5L), (3L, 5L), (10L, 2L), (11L, 2L))
      .toDF("doc_id", "priority")
    val got2 = Dedup.clusterKeepersPriority(pairs, prio2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got2(3L) == 1L && got2(11L) == 10L, s"tie-break: $got2")
  }

  test("temperatureSample: τ flattens Zipfian sources; quotas exact; hash-order stable") {
    import org.apache.spark.sql.expressions.Window
    // 90/10 Zipf-ish split: τ=1 keeps natural shares, τ=0.5 lifts the tail
    val d = ((0 until 90).map(i => (i.toLong, "big")) ++
      (0 until 10).map(i => (1000L + i, "small"))).toDF("doc_id", "source")
    def quotas(tau: Double) =
      Curation.temperatureSample(d, tau, target = 40)
        .groupBy("source").agg(max("quota").as("q"), count(lit(1)).as("kept"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nat = quotas(1.0)
    assert(nat("big") == ((36L, 36L)) && nat("small") == ((4L, 4L)), s"τ=1: $nat")
    val flat = quotas(0.5) // sqrt(90):sqrt(10) = 0.75:0.25 of 40 → 30/10
    assert(flat("big") == ((30L, 30L)) && flat("small") == ((10L, 10L)), s"τ=0.5: $flat")
    // selection = the smallest md5 hashes per source (window reference)
    val got = Curation.temperatureSample(d, 0.5, target = 40)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ref = d
      .withColumn("rk", row_number().over(Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      .where(col("rk") <= when(col("source") === "big", 30).otherwise(10))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == ref, s"selection mismatch: ${got -- ref} / ${ref -- got}")
  }

  test("corpusStats: dup/token/vocab arithmetic exact on a controlled corpus") {
    val d = Seq(
      (1L, "A", "a b a"), (2L, "A", "a b a"), (3L, "A", "c d"),
      (4L, "B", "x y z"))
      .toDF("doc_id", "source", "text")
    val got = Curation.corpusStats(d).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      ("A", 3L, 1L, 8L, 4L, 0.5, 2.6667),
      ("B", 1L, 0L, 3L, 3L, 1.0, 3.0)), s"stats: ${got.toSeq}")
  }

  test("corpusStats approx: HLL vocabulary within 2% of exact per source (d70's gate)") {
    // the 100 TB mode swaps the vocabulary-sized (source, token)
    // shuffle for approx_count_distinct; everything NOT approximated
    // (docs, dup_docs, tokens, mean) must stay bit-identical to exact
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val exact = Curation.corpusStats(d).orderBy("source").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(6))).toMap
    val approx = Curation.corpusStats(d, approx = true).orderBy("source")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(6))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (src, (docs, dups, toks, vocab, mean)) =>
      val (aDocs, aDups, aToks, aVocab, aMean) = approx(src)
      assert((aDocs, aDups, aToks, aMean) == ((docs, dups, toks, mean)),
        s"$src: non-approximated columns must match exact")
      val relErr = math.abs(aVocab - vocab).toDouble / vocab
      assert(relErr <= 0.02,
        s"$src: approx vocab $aVocab vs exact $vocab (rel err $relErr)")
    }
  }

  test("interleaveOrder: minority source spreads evenly through the epoch") {
    val d = ((0 until 90).map(i => (i.toLong, "big")) ++
      (0 until 10).map(i => (1000L + i, "small"))).toDF("doc_id", "source")
    val rows = Curation.interleaveOrder(d, 0.5, target = 40)
      .orderBy("okey", "source", "doc_id").collect()
      .map(r => (r.getString(0), r.getDouble(2)))
    assert(rows.length == 40)
    // quotas are 30/10 (temperatureSample spec); small's okeys are the
    // exact fractional ranks (i − 0.5)/10
    val smallKeys = rows.filter(_._1 == "small").map(_._2).toSeq
    assert(smallKeys == (1 to 10).map(i => (i - 0.5) / 10.0), s"small okeys: $smallKeys")
    // even spread: every consecutive window of 4 epoch positions holds
    // exactly one small-source doc (30:10 = 3:1 interleave)
    rows.grouped(4).foreach { w =>
      assert(w.count(_._1 == "small") == 1, s"clumped window: ${w.toSeq}")
    }
  }

  test("upsampleInterleaveOrder: copies spread as a bijection onto 1..quota") {
    val d = ((0 until 90).map(i => (i.toLong, "big")) ++
      (0 until 10).map(i => (1000L + i, "small"))).toDF("doc_id", "source")
    // tau=0, target=200: quotas 100/100 — big downsamples (1 epoch of
    // its first 100... n=90 < 100 so 1 full epoch + partial of 10),
    // small runs 10 full epochs
    val rows = Curation.upsampleInterleaveOrder(d, tau = 0.0, target = 200)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // Σ rows per source == quota exactly
    assert(rows.count(_._1 == "big") == 100)
    assert(rows.count(_._1 == "small") == 100)
    // okeys per source are EXACTLY {(i-0.5)/quota : i = 1..quota} — the
    // bijection claim; sorted okeys must be the full fractional grid
    for (src <- Seq("big", "small")) {
      val keys = rows.filter(_._1 == src).map(_._4).sorted.toSeq
      assert(keys == (1 to 100).map(i => (i - 0.5) / 100.0),
        s"$src okeys are not the 1..quota grid")
    }
    // small's 10 docs each appear exactly 10 times with epochs 1..10
    val byDoc = rows.filter(_._1 == "small").groupBy(_._2)
    assert(byDoc.size == 10)
    byDoc.foreach { case (id, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to 10L), s"doc $id epochs")
    }
    // a doc's copies are spaced exactly one epoch (n/quota) apart
    val oneDoc = rows.filter(r => r._1 == "small" && r._2 == rows
      .filter(_._1 == "small").map(_._2).min).sortBy(_._3).map(_._4)
    oneDoc.sliding(2).foreach { case Array(a, b) =>
      assert(math.abs((b - a) - 10.0 / 100.0) < 1e-12, "uneven epoch spacing")
    }
    // sub-size quota degrades to interleaveOrder: same (doc, okey) set
    // with every epoch = 1 (both faces read the one tauRanked chain)
    val down = Curation.upsampleInterleaveOrder(d, tau = 0.5, target = 40)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(down.forall(_._3 == 1L), "downsampled rows must be single-epoch")
    val ref = Curation.interleaveOrder(d, tau = 0.5, target = 40)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(down.map(r => (r._1, r._2, r._4)).toSet == ref,
      "downsampled face diverges from interleaveOrder")
  }

  test("epochShards: slices are balanced, mixture-representative, and order-preserving") {
    val d = ((0 until 90).map(i => (i.toLong, "big")) ++
      (0 until 10).map(i => (1000L + i, "small"))).toDF("doc_id", "source")
    // tau=0, target=200 → quotas 100/100; S=4 slices of 25 per source
    val rows = Curation.epochShards(d, tau = 0.0, target = 200, nShards = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows.length == 200)
    // every (shard, source) cell holds exactly quota/S = 25 copies —
    // balanced AND mixture-representative at once
    val cells = rows.groupBy(r => (r._1, r._2)).view.mapValues(_.length).toMap
    assert(cells.keySet == (0 until 4).flatMap(s =>
      Seq((s, "big"), (s, "small"))).toSet, s"cells: ${cells.keySet}")
    assert(cells.values.forall(_ == 25), s"unbalanced cells: $cells")
    // shard boundaries respect the slice arithmetic: every okey lands
    // in [shard/S, (shard+1)/S)
    rows.foreach { case (sh, _, id, _, k) =>
      assert(k >= sh / 4.0 && k < (sh + 1) / 4.0, s"doc $id okey $k in shard $sh")
    }
    // reading shards 0..S−1 in file order (okey, source, doc_id) IS the
    // global interleave order over all copies
    val byShards = rows.sortBy(r => (r._1, r._5, r._2, r._3))
      .map(r => (r._3, r._4))
    val global = rows.sortBy(r => (r._5, r._2, r._3)).map(r => (r._3, r._4))
    assert(byShards.toSeq == global.toSeq,
      "shard-order read diverges from the global interleave order")
  }

  test("writeEpochShards: one ordered file per shard, file order == interleave order") {
    val d = ((0 until 90).map(i => (i.toLong, "big", s"text of big $i")) ++
      (0 until 10).map(i => (1000L + i, "small", s"text of small $i")))
      .toDF("doc_id", "source", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-eshards").toString
    val assigned = Curation.writeEpochShards(d, tau = 0.0, target = 200,
      nShards = 4, path = path)
    val want = assigned.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // each shard directory holds exactly ONE parquet file…
    for (s <- 0 until 4) {
      val files = Option(new java.io.File(s"$path/shard=$s").listFiles)
        .getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $s has ${files.length} files")
      // …whose ROW ORDER is the interleave order — read it raw (single
      // file → Spark preserves row order) and compare to the sorted
      // assignment without sorting the read side
      val got = spark.read.parquet(files.head.getAbsolutePath)
        .select("okey", "source", "doc_id", "epoch")
        .collect()
        .map(r => (r.getDouble(0), r.getString(1), r.getLong(2), r.getLong(3)))
      val exp = want.filter(_._1 == s).sortBy(r => (r._5, r._2, r._3))
        .map(r => (r._5, r._2, r._3, r._4))
      assert(got.toSeq == exp.toSeq, s"shard $s rows out of interleave order")
    }
    // text travelled: spot-check one row round-trips its document text
    val t = spark.read.parquet(path).where(col("doc_id") === 1000L)
      .select("text").distinct().collect().map(_.getString(0)).toSeq
    assert(t == Seq("text of small 0"), s"text column mangled: $t")
  }

  test("mixing family invariants hold on randomized corpora (copies, bijection, shard balance)") {
    val rng = new scala.util.Random(4711)
    for (round <- 0 until 3) {
      val nSrc = 2 + rng.nextInt(4)
      val sizes = (0 until nSrc).map(_ => 1 + rng.nextInt(80))
      val docs = sizes.zipWithIndex.flatMap { case (n, s) =>
        (0 until n).map(i => (s * 10000L + i, s"s$s"))
      }.toDF("doc_id", "source")
      val tau = Seq(0.0, 0.5, 0.7)(round)
      val target = 50L + rng.nextInt(400)
      val up = Curation.upsampleQuotas(docs, tau, target).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
      // Σ copies == quota per source, every copy count ≥ 1, and rows
      // are exactly ranks 1..min(n, quota)
      up.groupBy(_._1).foreach { case (src, rows) =>
        val quota = rows.head._4
        assert(rows.map(_._5).sum == quota, s"$src: sum(copies) != quota")
        assert(rows.forall(_._5 >= 1))
        val n = sizes(src.drop(1).toInt).toLong
        assert(rows.map(_._3).sorted.toSeq == (1L to math.min(n, quota)),
          s"$src: rank set wrong")
      }
      // interleave okeys are exactly the (i−0.5)/quota grid per source
      val il = Curation.upsampleInterleaveOrder(docs, tau, target).collect()
        .map(r => (r.getString(0), r.getDouble(3)))
      il.groupBy(_._1).foreach { case (src, rows) =>
        val quota = up.filter(_._1 == src).head._4
        assert(rows.map(_._2).sorted.toSeq ==
          (1L to quota).map(i => (i - 0.5) / quota),
          s"$src: okeys not the fractional grid (quota $quota)")
      }
      // epoch shards: every (shard, source) cell holds ⌊q/S⌋ or ⌈q/S⌉,
      // including sources whose quota < S (cells of 0 simply absent)
      val S = 2 + rng.nextInt(7)
      val sh = Curation.epochShards(docs, tau, target, S).collect()
        .map(r => (r.getInt(0), r.getString(1)))
      sh.groupBy(_._2).foreach { case (src, rows) =>
        val q = up.filter(_._1 == src).head._4
        val per = rows.groupBy(_._1).view.mapValues(_.size)
        assert(per.values.sum == q)
        per.foreach { case (shard, c) =>
          assert(c == q / S || c == q / S + 1,
            s"$src shard $shard holds $c of quota $q over $S shards")
        }
      }
    }
  }

  test("importanceWeights: target-domain docs score higher; target==raw is exactly 0") {
    val raw = Seq(
      (1L, "neural models train on curated data fast"),
      (2L, "stock market prices fell sharply in trading today"),
      (3L, "neural training data curation at scale")).toDF("doc_id", "text")
    val target = Seq(
      (10L, "neural networks and training data"),
      (11L, "neural models train on curated data")).toDF("doc_id", "text")
    val w = TextAnalysis.importanceWeights(raw, target, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // docs sharing the target's vocabulary outrank the off-domain doc
    assert(w(1L) > w(2L) && w(3L) > w(2L), s"avg_llr ordering: $w")
    // degenerate self-target: both bucket models identical → every lr
    // term is exactly ln(x) − ln(x) = 0, so llr ≡ 0.0 bit-for-bit
    val self = TextAnalysis.importanceWeights(raw, raw, dim = 64)
      .collect().map(_.getDouble(2))
    assert(self.forall(_ == 0.0), s"self-target llr: ${self.toSeq}")
    // tokens column = whitespace-ish token count of each doc
    val toks = TextAnalysis.importanceWeights(raw, target, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toks == Map(1L -> 7L, 2L -> 8L, 3L -> 6L), s"tokens: $toks")
  }

  test("importanceWeights: llr is bit-identical across partitionings (ordered fold)") {
    // the round-8 red row: a plain sum() accumulates per-doc bucket
    // terms in partition order, flipping 4dp rounding of boundary docs.
    // orderedSum folds in bucket order, so llr must be the SAME IEEE
    // double regardless of how the input is partitioned.
    val raw = (1L to 150L).map { i =>
      (i, (1 to (3 + (i % 17)).toInt)
        .map(j => s"tok${(i * 31 + j * 7) % 97} word${j % 13} neural data")
        .mkString(" "))
    }.toDF("doc_id", "text")
    val target = raw.where(col("doc_id") % 5 === 0)
    def llrBits(parts: Int): Map[Long, Long] =
      TextAnalysis.importanceWeights(raw.repartition(parts),
          target.repartition(math.max(1, parts / 2)), dim = 64)
        .collect()
        .map(r => r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(2)))
        .toMap
    val one = llrBits(1)
    val many = llrBits(32)
    assert(one.size == 150)
    val diff = one.keys.filter(k => one(k) != many(k))
    assert(diff.isEmpty, s"llr bits differ for docs: ${diff.toSeq.sorted.take(5)}")
  }

  test("prototypePrune: keeps the least-prototypical per cell, window-reference exact") {
    import org.apache.spark.sql.expressions.Window
    val got = Dedup.prototypePrune(emb, keepFrac = 0.4, nlist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // reference: same assignment, same rounded cosine, plain window rank
    val assigned = Dedup.clusterAssignment(emb, 4).cache()
    val byDim = assigned
      .select(col("cell"), posexplode(col("vec")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(avg(col("x")).as("m"))
      .groupBy("cell")
      .agg(map_from_entries(collect_list(struct(col("i"), col("m")))).as("mm"))
      .select(col("cell"), transform(sequence(lit(0), lit(63)),
        i => element_at(col("mm"), i.cast("int"))).as("cent"))
    val ref = assigned.join(byDim, "cell")
      .select(col("id"), col("cell"),
        round(Similarity.cosineSafe(col("vec"), col("cent")), 6).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("cell").orderBy(col("cos"), col("id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cell")))
      .where(col("rk") <= floor(col("n") * 0.4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3).toLong)).toSet
    assigned.unpersist()
    assert(got == ref, s"prune mismatch: ${(got -- ref).take(5)} / ${(ref -- got).take(5)}")
    assert(got.nonEmpty)
  }

  test("softDedupWeights: chain cluster weighs 1/3 each; mass = distinct clusters") {
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val synth = Seq(
      (1L, t),
      (2L, t.replace("kappa", "lambda")),  // near-dups 1
      (3L, t.replace("alpha", "omega").replace("kappa", "lambda")), // chains to 2, not 1
      (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val w = Curation.softDedupWeights(synth, tau = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(w(1L) == ((1L, 3L, 1.0 / 3)) && w(2L) == ((1L, 3L, 1.0 / 3)) &&
      w(3L) == ((1L, 3L, 1.0 / 3)), s"chain cluster: $w")
    assert(w(4L) == ((4L, 1L, 1.0)), s"singleton: $w")
    // expectation preserved: total weight == number of distinct contents
    assert(math.abs(w.values.map(_._3).sum - 2.0) < 1e-12)
  }

  test("tokenBudgetMixture: τ-scaled token budgets, quality-ordered fill") {
    // 9:1 token-mass split ('big' docs have 9 words each, 10 docs;
    // 'small' 1 word each, 10 docs): m = 90/10, τ=0.5 → weights .75/.25
    val d = ((0 until 10).map(i => (i.toLong, "big",
      (1 to 9).map(j => s"b$i$j").mkString(" "))) ++
      (0 until 10).map(i => (100L + i, "small", s"s$i")))
      .toDF("doc_id", "source", "text")
    val got = Curation.tokenBudgetMixture(d, totalBudget = 40, tau = 0.5)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    // budgets: sqrt(90):sqrt(10) → .75/.25 of 40 → 30/10
    assert(got.forall { case (s, _, b) =>
      b == (if (s == "big") 30L else 10L) }, s"budgets: ${got.toSeq}")
    // fill: big keeps 3 docs (27 ≤ 30 < 36), small keeps all 10 (10 ≤ 10)
    val kept = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(kept == Map("big" -> 3, "small" -> 10), s"kept: $kept")
  }

  test("containment: subsumed doc scores 1.0 where jaccard washes out; ⊇ jaccard pairs") {
    // a 4-shingle post quoted verbatim inside a much longer page:
    // containment = 1.0, jaccard = 4/24 ≈ 0.17 — the asymmetric case
    // the containment denominator exists for
    val post = "alpha beta gamma delta epsilon zeta"
    val page = ((1 to 22).map(i => s"w$i").mkString(" ")) + " " + post
    val synth = Seq((1L, post), (2L, page)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(synth, n = 3, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0)), s"containment: ${cont.toSeq}")
    assert(Dedup.jaccardPairs(synth, n = 3, tau = 0.5).isEmpty,
      "jaccard must miss the subsumption pair")
    // on the fixture: containment ≥ jaccard pointwise (min ≤ union), so
    // the pair set at one tau contains the jaccard pair set at that tau
    val jp = Dedup.jaccardPairs(docs, n = 3, tau = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cp = Dedup.containmentPairs(docs, n = 3, tau = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jp.nonEmpty && jp.subsetOf(cp), s"jaccard ⊄ containment: ${jp -- cp}")
  }

  test("minhash-LSH near-dups == brute-force jaccard pairs at tau=0.5") {
    val brute = Dedup.jaccardPairs(docs, n = 3, tau = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDuplicates(docs, n = 3, tau = 0.5, k = 128, bands = 64)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == brute) // verification fixes precision; params make recall ~1
  }

  test("OPH signatures: dense (no nulls), filled buckets = per-bucket mins, identical docs identical, partitioning-invariant") {
    val k = 32
    val synth = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two"), // 0 trigram shingles at n=3... use n=2: 1 shingle
      (4L, "totally different content with other words here now")
    ).toDF("doc_id", "text")
    val sh = Dedup.hashShingles(Dedup.shingles(synth, n = 2))
    val sigs = Dedup.minhashSignaturesOPH(sh, k).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // densification fills every slot, even for the 1-shingle doc
    sigs.values.foreach { s => assert(s.length == k && !s.contains(null)) }
    assert(sigs(1L) == sigs(2L), "identical shingle sets → identical sigs")
    assert(sigs(1L) != sigs(4L))
    // a doc with ONE shingle densifies every bucket from that one
    // filled slot: values must be (m + distance) of a single m
    val one = sigs(3L)
    val base = one.min
    assert(one.sorted == (0 until k).map(base + _),
      "rotation densification must offset-salt each borrowed slot")
    // signatures are partitioning-invariant (pure per-doc function)
    val sigs1 = Dedup.minhashSignaturesOPH(sh.repartition(1), k).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs1 == sigs)
  }

  test("OPH minhash near-dups == brute-force jaccard pairs at tau=0.5") {
    val brute = Dedup.jaccardPairs(docs, n = 3, tau = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oph = Dedup.minhashDuplicatesOPH(docs, n = 3, tau = 0.5, k = 128, bands = 64)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain planted near-dups")
    assert(oph == brute) // exact verify fixes precision; params make recall ~1
  }

  test("simhash: identical docs collide at distance 0; pairs are verified") {
    val synth = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely unrelated content here")
    ).toDF("doc_id", "text")
    val sigs = Dedup.simhash(synth).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val pairs = Dedup.simhashPairs(synth, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("connected components: chains, disjoint comps, dup/reversed edges") {
    // 1-2-3-4 path (transitive chain), {10,11} pair, reversed + duplicate
    // edges, self loop — root is always the component minimum
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (3L, 2L), // path with dup/reversed
      (10L, 11L), (11L, 10L),
      (7L, 7L) // self loop: dropped, 7 never appears
    ).toDF("a", "b")
    // both execution paths: driver union-find AND the distributed star loop
    for (threshold <- Seq(1000000L, 0L)) {
      val cc = Dedup.connectedComponents(pairs, driverThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L), s"threshold $threshold")
    }
  }

  test("connected components match union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = verts.map { v =>
        // canonical root = min id in component
        val r = find(v.toInt)
        val minId = verts.filter(u => find(u.toInt) == r).min
        v -> minId
      }.toMap
      // the STAR-LOOP path (threshold 0): the driver fast path shares the
      // union-find reference below, so it proves nothing here
      val got = Dedup.connectedComponents(
          edges.toDF("a", "b"), driverThreshold = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("connected components: empty and single-edge inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty).count() == 0)
    val one = Seq((5L, 2L)).toDF("a", "b")
    val cc = Dedup.connectedComponents(one).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(2L -> 2L, 5L -> 2L))
  }

  test("duplicateClusters closes transitive near-dup chains") {
    // a~b and b~c at tau but a!~c: pair output alone can't pick one
    // keeper for the chain; the cluster output puts all three together
    val synth = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // ~1
      (3L, "beta gamma delta epsilon zeta eta iota kappa"), // ~2, farther from 1
      (4L, "totally unrelated content about something else entirely")
    ).toDF("doc_id", "text")
    // tau=0.6: J(1,2)=J(2,3)=5/7, J(1,3)=4/8 — a true chain, no direct 1~3
    val clusters = Dedup.duplicateClusters(synth, n = 3, tau = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byId = clusters.map(c => c._1 -> c._2).toMap
    assert(byId.keySet == Set(1L, 2L, 3L)) // 4 is a singleton: no row
    assert(byId.values.toSet == Set(1L), s"one cluster rooted at 1: $clusters")
    assert(clusters.forall(_._3 == 3L))
  }

  test("exact dedup groups catch case/punctuation variants") {
    val synth = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),
      (3L, "something else")
    ).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(synth).collect()
    assert(groups.length == 2)
    val dupGroup = groups.find(_.getAs[Long]("n") == 2L).get
    assert(dupGroup.getAs[Long]("keeper") == 1L)
  }

  test("IVF top-k recall vs brute force ≥ 0.6 at nprobe=4/nlist=16") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val brute = Similarity.topkBruteForce(emb, qids, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.topkIvf(emb, qids, 5, nlist = 16, nprobe = 4)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("hyperplane-bucket embedding near-dups are a verified subset of brute force") {
    val c = Similarity.corpus(emb)
    val brute = c.as("x").join(c.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        Similarity.cosine(col("x.vec"), col("y.vec")).as("cos"))
      .where(col("cos") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDups(emb, tau = 0.35, planes = 4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute)) // precision exact (cosine-verified)
    // 4 planes × 8 tables: per-pair collision ≈ 0.14/table → recall ≈ 0.7
    if (brute.nonEmpty)
      assert(lsh.size.toDouble / brute.size >= 0.4)
  }

  test("multi-probe LSH: superset of same-table candidates, recall at half the tables") {
    val c = Similarity.corpus(emb)
    val brute = c.as("x").join(c.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        Similarity.cosine(col("x.vec"), col("y.vec")).as("cos"))
      .where(col("cos") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairs(tables: Int, mp: Boolean) =
      Dedup.embeddingNearDups(emb, tau = 0.35, planes = 4,
          tables = tables, multiProbe = mp)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain4 = pairs(4, mp = false)
    val probed4 = pairs(4, mp = true)
    // structural: distance-1 probing only ADDS candidates at fixed params
    assert(plain4.subsetOf(probed4))
    assert(probed4.subsetOf(brute)) // precision still exact
    if (brute.nonEmpty) {
      val plain8 = pairs(8, mp = false)
      val r = (s: Set[(Long, Long)]) => s.size.toDouble / brute.size
      // probing 4 tables should at least match plain 8 tables' recall —
      // the half-index-size argument for multi-probe at scale
      assert(r(probed4) >= r(plain8),
        s"multiprobe4=${r(probed4)} plain8=${r(plain8)} plain4=${r(plain4)}")
    }
  }

  test("multimodal decode stub: deterministic metadata from binary payload") {
    val out = Multimodal.decodeDocs(spark, docs).collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val n = r.getAs[Int]("n_bytes")
      assert(r.getAs[Int]("width") == 64 + n % 512)
      assert(r.getAs[Int]("height") == 64 + (n * 7) % 512)
      assert(r.getAs[Int]("n_frames") == 1 + n % 8)
    }
    // determinism: re-running yields identical rows
    val again = Multimodal.decodeDocs(spark, docs).collect()
    assert(out.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("IVF recall improves monotonically with nprobe; full probe is exact") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val brute = pairs(Similarity.topkBruteForce(emb, qids, k = 5))
    def recallAt(nprobe: Int) = {
      val got = pairs(Similarity.topkIvf(emb, qids, k = 5, nlist = 8, nprobe = nprobe))
      (brute & got).size.toDouble / brute.size
    }
    val r1 = recallAt(1); val r4 = recallAt(4); val r8 = recallAt(8)
    assert(r1 <= r4 + 1e-9 && r4 <= r8 + 1e-9, s"recall not monotone: $r1 $r4 $r8")
    assert(r8 == 1.0, s"probing every cell must be exact, got $r8")
  }

  test("PQ top-k: valid codes, decent recall, exact rerank scores") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val c = Similarity.corpus(emb)
    val books = Similarity.pqCodebooks(c, m = 8, k = 16)
    assert(books.select("seg").distinct().count() == 8)
    val encoded = Similarity.pqEncode(c, books, m = 8)
    // every vector gets one code per segment, codes within [0, 16)
    assert(encoded.count() == c.count() * 8)
    assert(encoded.where(col("code") < 0 || col("code") >= 16).isEmpty)

    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val brute = pairs(Similarity.topkBruteForce(emb, qids, k = 5))
    val pqPairs = Similarity.topkPq(emb, qids, k = 5).collect()
    val recall = (brute & pqPairs.map(r =>
      (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet).size.toDouble / brute.size
    assert(recall >= 0.6, s"PQ recall $recall < 0.6")
    // reranked scores are EXACT cosines regardless of code error
    val bruteScores = Similarity.topkBruteForce(emb, qids, k = 5).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid")) -> r.getAs[Double]("cos")).toMap
    pqPairs.foreach { r =>
      val key = (r.getAs[Long]("qid"), r.getAs[Long]("nid"))
      bruteScores.get(key).foreach(exact =>
        assert(math.abs(exact - r.getAs[Double]("cos")) < 1e-12))
    }
  }

  test("IVF×PQ top-k: candidates restricted to probed cells, usable recall") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val brute = pairs(Similarity.topkBruteForce(emb, qids, k = 5))
    val ivfpq = pairs(Similarity.topkIvfPq(emb, qids, k = 5, nlist = 8, nprobe = 4))
    val recall = (brute & ivfpq).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF×PQ recall $recall < 0.5")
    // global-codebook variant also holds up (the memoizable index path)
    val plain = pairs(Similarity.topkIvfPq(emb, qids, k = 5, nlist = 8, nprobe = 4,
      residual = false))
    assert((brute & plain).size.toDouble / brute.size >= 0.5)
    // full probe + generous shortlist degrades gracefully toward exact
    val full = pairs(Similarity.topkIvfPq(emb, qids, k = 5, nlist = 8, nprobe = 8,
      shortlistFactor = 16))
    val fullRecall = (brute & full).size.toDouble / brute.size
    assert(fullRecall >= recall - 1e-9)
  }

  test("quantized top-k: int8 codes bounded, high recall vs brute force") {
    val quant = Similarity.quantizeInt8(emb).collect()
    quant.foreach { r =>
      val codes = r.getSeq[Int](2)
      assert(codes.forall(q => q >= -127 && q <= 127))
      assert(codes.exists(_ != 0) || r.getDouble(1) == 1.0)
    }
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("nid"))).toSet
    val brute = pairs(Similarity.topkBruteForce(emb, qids, k = 5))
    val quantized = pairs(Similarity.topkQuantized(emb, qids, k = 5))
    val recall = (brute & quantized).size.toDouble / brute.size
    assert(recall >= 0.9, s"quantized recall $recall < 0.9")
  }

  test("multimodal decode: real PNG/JPEG bytes decode to true dimensions via javax.imageio") {
    def imageBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val blobs = Seq(
      Multimodal.MediaBlob(1L, "image", imageBytes(37, 21, "png")),
      Multimodal.MediaBlob(2L, "image", imageBytes(5, 9, "jpg")),
      // non-image payload: must keep the deterministic stub semantics
      Multimodal.MediaBlob(3L, "image", "just text".getBytes("UTF-8")))
    val out = Multimodal.decode(spark.createDataset(blobs)).collect()
      .map(m => m.id -> m).toMap
    assert(out(1L).width == 37 && out(1L).height == 21 && out(1L).n_frames == 1)
    assert(out(2L).width == 5 && out(2L).height == 9)
    val stub = Multimodal.decodeStub(blobs(2))
    assert(out(3L) == stub, "text payload must fall back to the stub")
    // corrupt payload with a PNG magic: fail-safe to the stub, no throw
    val corrupt = Multimodal.MediaBlob(4L, "image",
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 1, 2, 3))
    assert(Multimodal.decodeBlob(corrupt) == Multimodal.decodeStub(corrupt))
  }

  test("embedding LSH at planes=0 (exact mode, the d14 gate) equals brute-force pairs") {
    val sub = emb.where(col("vec_id") % 5 === 0)
    val got = Dedup.embeddingNearDups(sub, tau = 0.35, planes = 0, tables = 1)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val c = Similarity.corpus(sub)
    val brute = c.as("x").join(c.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        Similarity.cosine(col("x.vec"), col("y.vec")).as("cos"))
      .where(col("cos") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"planes=0 LSH must equal brute force: $got vs $brute")
  }

  test("packChunks: duplicate (source, doc_id) rows get disjoint spans (ROWS frame)") {
    val dup = Seq(
      ("s", 1L, "a b c d"), // 4 tokens, twice
      ("s", 1L, "a b c d"),
      ("s", 2L, "e f")).toDF("source", "doc_id", "text")
    val out = Curation.packChunks(dup, budget = 5L).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 10 tokens total → chunks 0 (5 toks) and 1 (5 toks); the duplicate
    // doc rows must occupy CONSECUTIVE spans, not share one (the RANGE
    // default made them frame peers → overlapping spans, 14 tokens)
    assert(out.map(t => t._4 - t._3).sum == 10L, s"span total wrong: ${out.toSeq}")
    val chunk0 = out.filter(_._1 == 0L).map(t => (t._3, t._4)).toSet
    assert(chunk0 == Set((0L, 4L), (0L, 1L)), s"chunk-0 spans: $chunk0")
  }

  test("multimodal resize plan: aspect preserved, max edge bound, no upscale") {
    val meta = Seq(
      (1L, "image", 640, 480, 1),
      (2L, "image", 100, 100, 1),
      (3L, "image", 100, 448, 1),
      (4L, "image", 1, 1000, 1)
    ).toDF("id", "kind", "width", "height", "n_frames")
      .withColumn("n_bytes", lit(0))
    val out = Multimodal.resizePlan(meta, maxEdge = 224).collect()
      .map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(4)))).toMap
    assert(out(1L) == ((224, 168))) // downscale, long edge pinned
    assert(out(2L) == ((100, 100))) // never upscaled
    assert(out(3L) == ((50, 224)))
    assert(out(4L) == ((1, 224)))   // floor never reaches 0
  }

  test("multimodal frame sampling: stride ceil(n/max), ≤ max frames, covers idx 0") {
    val meta = (1 to 8).map(n => (n.toLong, n)).toDF("id", "n_frames")
    val out = Multimodal.sampleFrames(meta, maxFrames = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(2)).sorted.toSeq).toMap
    assert(out(3L) == Seq(0, 1, 2))
    assert(out(8L) == Seq(0, 2, 4, 6)) // stride 2
    assert(out.forall { case (_, idxs) => idxs.size <= 4 && idxs.head == 0 })
  }

  test("frame sampling tolerates zero-frame blobs (real codecs emit them)") {
    val meta = Seq((1L, 0), (2L, 5)).toDF("id", "n_frames")
    val out = Multimodal.sampleFrames(meta, maxFrames = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(2)).sorted.toSeq).toMap
    assert(!out.contains(1L), "zero-frame blob must emit no frame rows")
    assert(out(2L) == Seq(0, 2, 4))
  }

  test("persisted PQ/IVF indexes round-trip and search identically") {
    val dir = java.nio.file.Files.createTempDirectory("annidx").toString
    val qids = Seq(0L, 1L, 2L, 3L)
    val c = Similarity.corpus(emb)

    val (books, codes) = Similarity.pqIndex(emb)
    Similarity.savePqIndex(dir, books, codes)
    val (books2, codes2) = Similarity.loadPqIndex(spark, dir)
    assert(books2.collect().toSet == books.collect().toSet)
    assert(codes2.count() == codes.count())
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("nid"))).toSeq
    assert(
      pairs(Similarity.topkPq(emb, qids, k = 3, index = Some((books2, codes2)))) ==
        pairs(Similarity.topkPq(emb, qids, k = 3, index = Some((books, codes)))))

    val cents = Similarity.ivfCentroids(c, nlist = 8)
    val membership = Similarity.ivfAssign(emb, nlist = 8).select("id", "cell")
    Similarity.saveIvfIndex(dir, cents, membership)
    val (cents2, membership2) = Similarity.loadIvfIndex(spark, dir)
    assert(cents2.count() == 8 && membership2.count() == c.count())
    assert(
      pairs(Similarity.topkIvf(emb, qids, k = 3, nprobe = 4,
        index = Some((cents2, membership2)))) ==
        pairs(Similarity.topkIvf(emb, qids, k = 3, nlist = 8, nprobe = 4)))
  }

  test("IVF append grows the index without retraining; replay is idempotent") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("ivf-append").toString
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val delta = emb.where(col("vec_id") % 5 === 0)
    val c = Similarity.corpus(base)
    val cents = Similarity.ivfCentroids(c, nlist = 8).cache()
    Similarity.saveIvfIndex(dir, cents, Similarity.ivfMembership(c, cents))
    val baseCount = Similarity.loadIvfIndex(spark, dir)._2.count()

    Similarity.appendIvfIndex(dir, delta, seg = "delta")
    Similarity.appendIvfIndex(dir, delta, seg = "delta") // replay: same segment
    val (cents2, membership2) = Similarity.loadIvfIndex(spark, dir)
    assert(membership2.count() == baseCount + delta.count(),
      "replayed append must rewrite its segment, not double it")

    // every cell probed → appended index is structurally brute force
    // over the UNION (a lost or mis-celled appended vector would show)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("nid"))).toSeq
    assert(
      rows(Similarity.topkIvf(emb, Seq(0L, 1L, 2L), k = 5, nlist = 8, nprobe = 8,
        index = Some((cents2, membership2)))) ==
        rows(Similarity.topkBruteForce(emb, Seq(0L, 1L, 2L), k = 5)))
  }

  test("PQ append encodes against frozen books; replay is idempotent") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("pq-append").toString
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val delta = emb.where(col("vec_id") % 5 === 0)
    val (books, codes) = Similarity.pqIndex(base)
    Similarity.savePqIndex(dir, books, codes)
    Similarity.appendPqIndex(dir, delta, ixseg = "delta")
    Similarity.appendPqIndex(dir, delta, ixseg = "delta") // replay
    val (books2, codes2) = Similarity.loadPqIndex(spark, dir)
    assert(codes2.count() == (base.count() + delta.count()) * 8,
      "replayed PQ append must rewrite its segment, not double it")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("nid"))).toSeq
    // exhaustive shortlist + exact rerank → grown index == brute force
    assert(
      rows(Similarity.topkPq(emb, Seq(0L, 1L, 2L), k = 5,
        shortlistFactor = 200000, index = Some((books2, codes2)))) ==
        rows(Similarity.topkBruteForce(emb, Seq(0L, 1L, 2L), k = 5)))
  }

  test("IVF/PQ compaction folds segments into base; results identical; layout shrinks") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("ann-compact").toString
    val base = emb.where(col("vec_id") % 5 =!= 0)
    val d1 = emb.where(col("vec_id") % 10 === 0)
    val d2 = emb.where(col("vec_id") % 10 === 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("nid"))).toSeq
    def segDirs(sub: String): Set[String] =
      Option(new java.io.File(s"$dir/$sub").listFiles).getOrElse(Array.empty)
        .filter(_.isDirectory).map(_.getName).toSet

    // IVF: two appended segments, compact one, then both
    val c = Similarity.corpus(base)
    val cents = Similarity.ivfCentroids(c, nlist = 8).cache()
    Similarity.saveIvfIndex(dir, cents, Similarity.ivfMembership(c, cents))
    Similarity.appendIvfIndex(dir, d1, seg = "b0")
    Similarity.appendIvfIndex(dir, d2, seg = "b1")
    val before = rows(Similarity.topkIvf(emb, Seq(0L, 1L, 2L), k = 5, nlist = 8,
      nprobe = 8, index = Some(Similarity.loadIvfIndex(spark, dir))))
    assert(Similarity.compactIvfIndex(spark, dir, Seq("b0")) == Seq("b0"))
    assert(segDirs("ivf_membership") == Set("seg=base", "seg=b1"))
    // folding a missing or already-folded segment is a no-op
    assert(Similarity.compactIvfIndex(spark, dir, Seq("b0", "nope")).isEmpty)
    assert(Similarity.compactIvfIndex(spark, dir, Seq("b1", "base")) == Seq("b1"))
    assert(segDirs("ivf_membership") == Set("seg=base"))
    val after = rows(Similarity.topkIvf(emb, Seq(0L, 1L, 2L), k = 5, nlist = 8,
      nprobe = 8, index = Some(Similarity.loadIvfIndex(spark, dir))))
    assert(after == before, "compaction must not change IVF search results")
    assert(Similarity.loadIvfIndex(spark, dir)._2.count() == emb.count())

    // PQ: codes partition on ixseg but KEEP the data column `seg`
    val (books, codes) = Similarity.pqIndex(base)
    Similarity.savePqIndex(dir, books, codes)
    Similarity.appendPqIndex(dir, d1, ixseg = "b0")
    Similarity.appendPqIndex(dir, d2, ixseg = "b1")
    val pqBefore = rows(Similarity.topkPq(emb, Seq(0L, 1L, 2L), k = 5,
      shortlistFactor = 200000, index = Some(Similarity.loadPqIndex(spark, dir))))
    assert(Similarity.compactPqIndex(spark, dir, Seq("b0", "b1")).sorted ==
      Seq("b0", "b1"))
    assert(segDirs("pq_codes") == Set("ixseg=base"))
    val (_, codes2) = Similarity.loadPqIndex(spark, dir)
    assert(codes2.count() == emb.count() * 8)
    assert(codes2.select("seg").distinct().count() == 8,
      "PQ sub-vector segment column must survive the fold")
    val pqAfter = rows(Similarity.topkPq(emb, Seq(0L, 1L, 2L), k = 5,
      shortlistFactor = 200000, index = Some(Similarity.loadPqIndex(spark, dir))))
    assert(pqAfter == pqBefore, "compaction must not change PQ search results")
  }

  test("exact-mode ANN variants equal brute force (the s07–s10 gates)") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("nid"))).toSeq
      .sorted
    val brute = rows(Similarity.topkBruteForce(emb, qids, k = 5))
    assert(rows(Similarity.topkIvf(emb, qids, k = 5, nlist = 8, nprobe = 8)) == brute)
    assert(rows(Similarity.topkPq(emb, qids, k = 5, shortlistFactor = 200000)) == brute)
    assert(rows(Similarity.topkIvfPq(emb, qids, k = 5, nlist = 8, nprobe = 8,
      shortlistFactor = 200000, residual = true)) == brute)
    assert(rows(Similarity.topkQuantized(emb, qids, k = 5,
      shortlistFactor = 200000)) == brute)
  }

  test("PQ local-Lloyd path matches the distributed loop (scale-adaptive)") {
    val c = Similarity.corpus(emb)
    val local = Similarity.pqCodebooks(c, m = 8, k = 16)
    val dist = Similarity.pqCodebooks(c, m = 8, k = 16, driverThreshold = 0L)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val (lm, dm) = (asMap(local), asMap(dist))
    // same surviving (seg, cid) cells — empty-code drop behaviour agrees
    assert(lm.keySet == dm.keySet)
    // centroids agree to summation-order tolerance (the documented ulp
    // divergence: local sums ascending-id, distributed in partition
    // order). Known risk, accepted deliberately: if a future fixture
    // change put a sub-vector near an assignment tie, a ulp could flip
    // an assignment and cascade past this tolerance — the failure mode
    // is a LOUD test failure pointing here, never a silent pass, and
    // the deterministic fixture has no near-ties today (verified by
    // this test passing at 1e-9 across core counts).
    lm.foreach { case (key, lv) =>
      val dv = dm(key)
      assert(lv.size == dv.size)
      lv.zip(dv).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"cell $key: $a vs $b")
      }
    }
  }

  test("IVF local path matches the distributed Lloyd step (scale-adaptive)") {
    val c = Similarity.corpusNormalized(emb)
    val local = Similarity.ivfCentroids(c, nlist = 8)
    val dist = Similarity.ivfCentroids(c, nlist = 8, driverThreshold = 0L)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val (lm, dm) = (asMap(local), asMap(dist))
    // same surviving cells — empty-cell drop behaviour agrees
    assert(lm.keySet == dm.keySet)
    // centroids agree to summation-order tolerance (local sums
    // ascending-id — deterministic across core counts; distributed avg
    // sums in partition order). On this fixture the sums are exact, so
    // the hash-gated IVF oracles (d23–d25, s07/s11/s13) stay green.
    lm.foreach { case (cell, lv) =>
      val dv = dm(cell)
      assert(lv.size == dv.size)
      lv.zip(dv).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"cell $cell: $a vs $b")
      }
    }
  }

  test("IVF local path matches the distributed step on ragged vectors") {
    // lengths cycle 3, 5, 2, 4: within a cell, later vectors are both
    // longer and shorter than the first one assigned to it
    val rnd = new scala.util.Random(17)
    val n = 40
    val lens = Seq(3, 5, 2, 4)
    val c = (0 until n).map(i =>
        (i.toLong, Seq.fill(lens(i % lens.size))(rnd.nextGaussian())))
      .toDF("id", "vec")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // the threshold probe reads the first row's dim (3): n·3 doubles is
    // the largest local corpus
    val local = asMap(Similarity.ivfCentroids(c, nlist = 4, driverThreshold = 3L * n))
    val dist = asMap(Similarity.ivfCentroids(c, nlist = 4, driverThreshold = 3L * n - 1))
    assert(local.keySet == dist.keySet)
    assert(local.values.map(_.size).toSet.size > 1, s"cells must stay ragged: $local")
    local.foreach { case (cell, lv) =>
      val dv = dist(cell)
      assert(lv.size == dv.size, s"cell $cell: $lv vs $dv")
      lv.zip(dv).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"cell $cell: $a vs $b")
      }
    }
  }

  test("pq_argmin rejects malformed input at analysis time") {
    import org.apache.spark.sql.Column
    val one = spark.range(1).toDF()
    val sub = array(lit(1.0), lit(0.0))
    val cvec = array(lit(1.0), lit(0.0))
    def cands(fields: Column*): Column = array(struct(fields: _*))
    val good = cands(lit(7).as("cid"), cvec.as("cvec"), lit(1.0).as("cn"))
    assert(one.select(graft.functions.pq_argmin(sub, good)).head().getInt(0) == 7)
    val bad = Seq(
      "long cid" -> (sub, cands(lit(7L).as("cid"), cvec.as("cvec"), lit(1.0).as("cn"))),
      "missing cn" -> (sub, cands(lit(7).as("cid"), cvec.as("cvec"))),
      "reordered" -> (sub, cands(cvec.as("cvec"), lit(7).as("cid"), lit(1.0).as("cn"))),
      "float sub" -> (array(lit(1.0f), lit(0.0f)), good))
    bad.foreach { case (what, (s, c)) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        one.select(graft.functions.pq_argmin(s, c)).collect())
      assert(e.getMessage.contains("pq_argmin"), s"$what: ${e.getMessage}")
    }
  }

  test("PqArgmin codegen expression matches the interpreted fold bit-for-bit") {
    val c = Similarity.corpus(emb)
    val books = Similarity.pqCodebooks(c, m = 8, k = 16)
    val dim = c.select(size(col("vec"))).head().getInt(0)
    val subd = dim / 8
    val subs = c.select(col("id"),
      posexplode(array((0 until 8).map(s =>
        slice(col("vec"), s * subd + 1, subd)): _*)).as(Seq("seg", "sub")))
    val joined = subs.join(Similarity.segBooks(books), Seq("seg"))
    val both = joined.select(col("id"), col("seg"),
      Similarity.argminCidInterpreted(col("sub"), col("cands")).as("ref"),
      graft.functions.pq_argmin(col("sub"), col("cands")).as("got"))
    assert(both.where(col("got").isNull).isEmpty,
      "codegen argmin must assign every (id, seg) row")
    assert(both.where(col("ref") =!= col("got")).isEmpty,
      "codegen argmin must equal the interpreted fold on every row")
    // empty candidate array → null, the fold's element_at(cands, 1) seed
    val emptied = joined.limit(1).select(graft.functions.pq_argmin(
      col("sub"),
      filter(col("cands"), _ => lit(false))).as("got"))
    assert(emptied.head().isNullAt(0), "empty cands must yield null")
  }

  test("PQ codebooks seed from the k lowest ids even when ids are offset") {
    val c = Similarity.corpus(emb)
    val shifted = c.withColumn("id", col("id") + 100000L)
    // BOTH paths stay covered: the fixture is under the default driver
    // threshold (so the bare call exercises the local path), and the
    // distributed loop — whose offset-id seeding is this test's subject
    // — is forced explicitly via driverThreshold = 0
    for (thr <- Seq(4000000L, 0L)) {
      val books = Similarity.pqCodebooks(shifted, m = 8, k = 16,
        driverThreshold = thr)
      // full codebook despite no id < 16 existing: 8 segments × 16 codes
      assert(books.count() == 8 * 16,
        s"offset ids must still yield k seeds (driverThreshold=$thr)")
      assert(books.select("cid").distinct().count() == 16)
      val encoded = Similarity.pqEncode(shifted, books, m = 8)
      assert(encoded.where(col("code") < 0 || col("code") >= 16).isEmpty)
    }
  }

  test("multimodal byte features match a naive reference on the fixture") {
    val got = Multimodal.byteFeatures(Multimodal.asBlobs(docs)).collect()
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.nonEmpty)
    got.foreach { f =>
      val bs = texts(f.id).getBytes("UTF-8").map(_ & 0xff)
      assert(f.n_bytes == bs.length)
      assert(f.byte_sum == bs.map(_.toLong).sum)
      assert(f.byte_min == bs.min && f.byte_max == bs.max)
      assert(f.n_distinct == bs.distinct.length)
    }
  }

  test("rolling fingerprints: gram counts, sentinels for short docs, determinism") {
    val synth = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "tiny"), // < k bytes → no grams
      (3L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.rollingFingerprints(synth).collect()
      .map(f => f.doc_id -> f).toMap
    assert(out(1L).n_grams == "the quick brown fox jumps over the lazy dog"
      .getBytes("UTF-8").length - 7)
    assert(out(2L).n_grams == 0 && out(2L).n_fp == 0 &&
      out(2L).fp_min == -1L && out(2L).fp_max == -1L)
    // identical content → identical fingerprint summary
    assert(out(1L).copy(doc_id = 3L) == out(3L))
  }

  test("winnowing: shared-run guarantee, tie rule, density, short-doc emptiness") {
    val k = 8; val w = 8
    val shared = "this exact forty-plus character passage is shared verbatim"
    val a = (10L, "prefix one two three " + shared + " suffix alpha beta")
    val b = (11L, "completely different opening words here " + shared + " and other tail")
    val uni = (12L, "a" * 20)    // uniform → all gram hashes equal
    val tiny = (13L, "too few") // 7 bytes < k → no grams at all
    val df = Seq(a, b, uni, tiny).toDF("doc_id", "text")
    val out = TextAnalysis.winnowFingerprints(df, k = k, w = w).collect()
      .groupBy(_.doc_id).map { case (id, fs) => id -> fs.map(f => (f.pos, f.h)) }
    // the paper's guarantee: a shared run ≥ w+k−1 chars yields at least
    // one shared HASH between the two documents
    val ha = out(10L).map(_._2).toSet
    val hb = out(11L).map(_._2).toSet
    assert((ha & hb).nonEmpty, "shared 50+ char passage produced no shared fingerprint")
    // uniform text: every window's rightmost minimum is its last position
    // → exactly positions w-1 .. n-1, all with one hash value
    val nUni = 20 - k + 1
    assert(out(12L).map(_._1).sorted.toSeq == (w - 1 until nUni).toSeq)
    assert(out(12L).map(_._2).distinct.length == 1)
    assert(!out.contains(13L), "doc with < w grams must select nothing")
    // expected density 2/(w+1) ≈ 0.22 — allow a wide band on short text
    val densA = out(10L).length.toDouble / (a._2.getBytes("UTF-8").length - k + 1)
    assert(densA > 0.08 && densA < 0.5, s"winnow density off: $densA")
  }

  test("matryoshka truncation: identity at full width, well-formed at half") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = Seq(0L, 1L, 2L, 3L, 4L)
    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.topkBruteForce(d, q, k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e9))).sortBy(x => (x._1, x._2)).toSeq
    assert(run(Similarity.truncate(e, 64)) == run(e),
      "full-width truncation must be the identity")
    val t32 = run(Similarity.truncate(e, 32))
    assert(t32.length == 25)
    assert(t32.groupBy(_._1).values.forall(_.map(_._2).sorted == Seq(1, 2, 3, 4, 5)))
    // NOTE: recall vs full width is a property of MRL-TRAINED embeddings
    // (information front-loading); on this synthetic fixture overlap is
    // ~0.32 — the operator contract is the slice, not a recall claim
  }

  test("card redaction: Luhn decides, lengths bound, multiple cards, overlap determinism") {
    val d = Seq(
      (1L, "pay 4111111111111111 now"),             // valid visa test PAN
      (2L, "pay 4111111111111112 now"),             // broken check digit
      (3L, "id 123456789012 and 12345678901234567890"), // 12 and 20 digits
      (4L, "two: 4111111111111111 and 5500005555555559 done"), // both valid
      (5L, "a 4111111111111111 twice 4111111111111111 b"),
      (6L, "no digits at all")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.redactCards(d).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(got(1L) == ((1, "pay <CC> now")))
    assert(got(2L) == ((0, "pay 4111111111111112 now")), "invalid checksum must survive")
    assert(got(3L)._1 == 0, "length bounds must hold")
    assert(got(4L) == ((2, "two: <CC> and <CC> done")))
    assert(got(5L) == ((1, "a <CC> twice <CC> b")),
      "repeated card = one distinct run, every occurrence redacted")
    assert(got(6L) == ((0, "no digits at all")))
    // luhnValid directly: the classic test numbers
    val l = d.sparkSession.range(1).select(
      TextAnalysis.luhnValid(lit("4111111111111111")).as("a"),
      TextAnalysis.luhnValid(lit("79927398713")).as("b"),
      TextAnalysis.luhnValid(lit("79927398710")).as("c")).head()
    assert(l.getBoolean(0) && l.getBoolean(1) && !l.getBoolean(2))
  }

  test("WinnowIndex ≡ winnowPairs: incremental split equals the batch computation") {
    // For any corpus C split into index I and batch B, dedupBatch(B)
    // over an index built on I must equal winnowPairs(C)'s cross subset
    // EXACTLY (sims included): for a hash present in B, the combined
    // (dfi + dfb) cap is the corpus df; sizes are uncapped on both
    // paths; the verify ratio is the same long/long division.
    val rnd = new scala.util.Random(11)
    val lexicon = Array("granite", "meridian", "tundra", "basalt", "orchid",
      "zephyr", "cobalt", "juniper", "quartz", "sienna", "talc", "umber")
    for (trial <- 1 to 3) {
      val base = (0L until 30L).map { i =>
        (i, Seq.fill(12)(lexicon(rnd.nextInt(lexicon.length))).mkString(" "))
      }
      // planted near-dups: clones of some docs with one word swapped
      val clones = base.filter(_._1 % 5 == 0).map { case (i, t) =>
        (i + 1000L, t.replaceFirst(lexicon(rnd.nextInt(lexicon.length)), "xx"))
      }
      val corpus = (base ++ clones).toDF("doc_id", "text")
      val all = Dedup.winnowPairs(corpus, tau = 0.3, maxHashFreq = 40)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val inB = (id: Long) => id % 3 == 0
      val wantCross = all.flatMap { case (a, b, s) =>
        if (inB(a) && !inB(b)) Some((a, b, s))
        else if (inB(b) && !inB(a)) Some((b, a, s))
        else None
      }.toSet
      val path = java.nio.file.Files.createTempDirectory(s"winprop$trial").toString
      graft.ext.WinnowIndex.build(corpus.where(col("doc_id") % 3 =!= 0), path)
      val got = graft.ext.WinnowIndex.load(spark, path)
        .dedupBatch(corpus.where(col("doc_id") % 3 === 0),
          tau = 0.3, maxHashFreq = 40)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == wantCross,
        s"trial $trial: ${got.size} vs ${wantCross.size}\n got-only ${got -- wantCross}\n want-only ${wantCross -- got}")
      assert(wantCross.nonEmpty, s"trial $trial: vacuous (no cross pairs)")
    }
  }

  test("WinnowIndex: cross dedup, append growth, replay exclusion, fold identity") {
    val base = "the committee reviewed the quarterly projections and approved " +
      "the revised capital allocation plan for the northern region offices"
    val other = "entirely unrelated content about marine biology and coral " +
      "reef ecosystems in the tropical pacific zone with plankton blooms"
    val seed = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-winidx-t").toString
    graft.ext.WinnowIndex.build(seed, path)
    val idx = graft.ext.WinnowIndex.load(spark, path)
    // a near-dup of an indexed doc convicts; fresh content passes
    val b0 = Seq((101L, base.replace("northern", "southern")),
      (102L, "completely novel text about alpine glaciers retreating over " +
        "granite ridges under a warming spring sun this season")).toDF("doc_id", "text")
    val v0 = idx.dedupBatch(b0, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v0 == Set((101L, 1L)), s"verdicts: $v0")
    // survivors indexed; the next batch is checked against them
    idx.append(b0.where(col("doc_id") === 102L), seg = "b0")
    val b1 = Seq((201L, ("completely novel text about alpine glaciers retreating over " +
      "granite ridges under a warming spring sun this season").replace("spring", "summer")))
      .toDF("doc_id", "text")
    val v1 = idx.dedupBatch(b1, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v1 == Set((201L, 102L)), s"growth verdicts: $v1")
    // replay: batch b0 re-run with its own segment hidden reproduces
    // the original verdict even though its survivor is now indexed
    idx.append(b1, seg = "b1")
    val replay = idx.dedupBatch(b0, tau = 0.5, excludeSeg = Some("b0"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // b1's doc IS a near-dup of 102 — but 102's segment is the excluded
    // one, and b1 entered via its own segment... 201 ~ 101? unrelated.
    assert(replay.filter(_._1 == 101L) == Set((101L, 1L)), s"replay: $replay")
    // compaction: fold all appended segments, verdicts identical
    val before = idx.dedupBatch(b1, tau = 0.5, excludeSeg = Some("b1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(idx.compact(Seq("b0")) == Seq("b0"))
    val after = graft.ext.WinnowIndex.load(spark, path)
      .dedupBatch(b1, tau = 0.5, excludeSeg = Some("b1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(before == after, s"fold changed verdicts: $before vs $after")
  }

  test("winnowPairs: planted near-dup found, unrelated apart, cap kills boilerplate") {
    val base = "the committee reviewed the quarterly projections and approved " +
      "the revised capital allocation plan for the northern region offices"
    val nearDup = base.replace("northern", "southern")
    val df = Seq(
      (1L, base), (2L, nearDup),
      (3L, "entirely unrelated content about marine biology and coral reef " +
        "ecosystems in the tropical pacific zone with plankton blooms"),
      (4L, "zxqv jklm wpfg hrtd bnys cvex another block of distinct words " +
        "that shares no eight byte run with anything else at all here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(df, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)), s"planted near-dup missed: $pairs")
    assert(pairs((1L, 2L)) > 0.6)
    assert(pairs.keySet == Set((1L, 2L)), s"spurious pairs: $pairs")
    // universal boilerplate: every doc identical → every hash df = 4 >
    // cap 3 → no candidate survives the frequency cap
    val boiler = (1L to 4L).map(i => (i, base)).toDF("doc_id", "text")
    assert(Dedup.winnowPairs(boiler, tau = 0.1, maxHashFreq = 3).isEmpty)
    // ...and the same corpus pairs fully once the cap admits it
    val full = Dedup.winnowPairs(boiler, tau = 0.99, maxHashFreq = 4)
    assert(full.count() == 6, "4 identical docs must yield all 6 pairs at sim 1")
  }

  test("charEntropy: closed-form values, empty doc, repetition ordering") {
    val df = Seq(
      (1L, "aaaaaaaa"),          // single symbol → 0
      (2L, "abababab"),          // two equiprobable → ln 2
      (3L, "abcdabcd"),          // four equiprobable → ln 4
      (4L, ""),                  // empty → 0 by contract
      (5L, "the quick brown fox")
    ).toDF("doc_id", "text")
    val e = TextAnalysis.charEntropy(df).collect().map(x => x.doc_id -> x).toMap
    assert(e(1L).entropy == 0.0 && e(1L).n_chars == 8)
    assert(math.abs(e(2L).entropy - math.log(2)) < 1e-12)
    assert(math.abs(e(3L).entropy - math.log(4)) < 1e-12)
    assert(e(4L) == TextAnalysis.CharEntropy(4L, 0, 0.0))
    // natural text sits above repetitive text
    assert(e(5L).entropy > e(3L).entropy)
  }

  test("CJK-aware token counting: one token per CJK char, BPE segments for the rest") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "hello world"),   // pure ASCII → identical to bpeTokenCount
      (2L, "你好世界"),        // 4 ideographs → 4 (BpeRe alone says 1)
      (3L, "日本語のテスト"),   // kanji + kana, 7 chars → 7
      (4L, "GPT模型很强"),     // mixed: 'GPT' segment + 4 ideographs → 5
      (5L, "")               // empty → 0
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.cjkAwareTokenCount(col("text")).as("n"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got(1L)._1 == got(1L)._2, "CJK-free text must match the BPE count")
    assert(got(2L) == ((4, 1)), s"zh run under-billed: ${got(2L)}")
    assert(got(3L) == ((7, 1)))
    assert(got(4L)._1 == 5)
    assert(got(5L)._1 == 0)
  }

  test("language ID is deterministic and covers the fixture") {
    val out = docs.select(TextAnalysis.langId(col("text")).as("l")).collect()
    assert(out.forall(r => Set("en", "es", "de", "fr", "zh", "und").contains(r.getString(0))))
  }

  test("PII redaction: email → IP → phone staged, digit-free tokens, non-PII untouched") {
    val df = Seq(
      (1L, "mail me at jane.doe+spam@sub.example.co.uk today"),
      (2L, "server at 192.168.0.1 and 10.20.30.40."),
      (3L, "call +44 (0) 20 7946-0958 now"),
      // an email whose local part is a long digit run: must become
      // <EMAIL>, never <PHONE> — the staged order is the contract
      (4L, "ticket 5551234567@txt.example.com filed"),
      // version-ish dotted numbers: not \b-delimited IPv4 on both ends?
      // 1.2.3.4 IS shaped like an IP — redacted; 1.2.3 is not
      (5L, "versions 1.2.3 and 1.2.3.4 differ"),
      (6L, "no pii here at all"),
      (7L, "")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail me at <EMAIL> today")
    assert(out(2L) == "server at <IP> and <IP>.")
    assert(out(3L) == "call <PHONE> now")
    assert(out(4L) == "ticket <EMAIL> filed")
    assert(out(5L) == "versions 1.2.3 and <IP> differ")
    assert(out(6L) == "no pii here at all")
    assert(out(7L) == "")
    // staged counts see the same strings the replacements do
    val counted = df
      .select(col("doc_id"),
        TextAnalysis.countRe(col("text"), TextAnalysis.EmailRe).as("e"),
        TextAnalysis.countRe(
          regexp_replace(col("text"), TextAnalysis.EmailRe, "<EMAIL>"),
          TextAnalysis.Ipv4Re).as("i"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(counted(2L) == ((0, 2)))
    assert(counted(4L) == ((1, 0)), "digit-run email must be counted as email, not leak to IP/phone")
  }

  test("repetition signals: known dup fractions, top 2-gram with deterministic ties") {
    val df = Seq(
      (1L, "a b a b a"),       // toks 5, uniq 2 → dup 0.6; top gram "a b" ×2 (ties "b a" ×2 → lexicographic pick "a b"); frac 2*3/9
      (2L, "x y z"),           // no dups; all grams ×1 → lexicographic smallest "x y"
      (3L, "w w w w"),         // overlapping degenerate repeat: "w w" ×3, frac 3*3/7 > 1 allowed
      (4L, "solo"),            // 1 token → no grams: top_gram null, top_frac 0
      (5L, "")                 // empty → n_tok 0, dup 0, no grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), Option(r.getString(3)).orNull, r.getDouble(4)))).toMap
    assert(out(1L) == ((5, 0.6, "a b", math.rint(2.0 * 3 / 9 * 1e4) / 1e4)), s"${out(1L)}")
    assert(out(2L)._3 == "x y", s"tie-break must be lexicographic: ${out(2L)}")
    assert(out(3L)._4 > 1.0, "overlapping repeats may exceed 1 by contract")
    assert(out(4L) == ((1, 0.0, null, 0.0)))
    assert(out(5L) == ((0, 0.0, null, 0.0)))
    // pure-column twin agrees with the DataFrame op
    val colFrac = df.select(col("doc_id"),
        round(TextAnalysis.dupTokenFraction(col("text")), 4).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(colFrac(1L) == 0.6 && colFrac(5L) == 0.0)
  }

  test("hashed TF: unit norms, dense == sparse, exact-dup texts collide in vector space") {
    val d = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta gamma alpha"),   // exact dup of 1 → identical vector
      (3L, "one two three four five"),
      (4L, "")                           // no tokens → no rows / no vector
    ).toDF("doc_id", "text")
    val sparse = TextAnalysis.hashedTf(d, dim = 16).cache()
    // unit l2 norm per doc
    val norms = sparse.groupBy("doc_id")
      .agg(sum(col("w") * col("w")).as("n2"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(norms.keySet == Set(1L, 2L, 3L))
    assert(norms.values.forall(n => math.abs(n - 1.0) < 1e-12), s"$norms")
    // dense assembly agrees with the sparse rows
    val dense = TextAnalysis.hashedTfDense(d, dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val bySparse = sparse.collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        val v = Array.fill(16)(0.0)
        rs.foreach(r => v(r.getLong(1).toInt) = r.getDouble(2))
        id -> v.toSeq
      }
    assert(dense.keySet == Set(1L, 2L, 3L))
    dense.foreach { case (id, v) => assert(v == bySparse(id), s"doc $id") }
    // identical text → identical vector; the semantic-dedup composition
    // then catches it at tau≈1 (the text→vector→dedup bridge end to end)
    assert(dense(1L) == dense(2L))
    val surv = Dedup.semanticDedup(
        TextAnalysis.hashedTfDense(d, dim = 16), tau = 0.999, nlist = 1,
        idCol = "doc_id", vecCol = "vec")
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 3L), s"dup doc 2 must drop, got $surv")
    sparse.unpersist()
  }

  test("char-gram span overlap: shared spans found, short/unrelated docs silent") {
    val boiler = "all rights reserved worldwide by the example corporation"
    val d = Seq(
      (1L, s"first document body. $boiler trailing text one"),
      (2L, s"second unrelated opening. $boiler and a different tail"),
      (3L, "completely different content with no shared spans at all here"),
      (4L, "tiny")) // shorter than k → no grams
      .toDF("doc_id", "text")
    val got = Dedup.charGramOverlap(d, k = 16, prefix = "",
        minShared = 2, maxGramFreq = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // prefix "" samples EVERY gram: the 56-char boilerplate span gives
    // 41 shared grams between 1 and 2; nothing else pairs
    assert(got == Set((1L, 2L)), s"$got")
    // prefix sampling only shrinks the shared count, never invents pairs
    val sampled = Dedup.charGramOverlap(d, k = 16, prefix = "0",
        minShared = 1, maxGramFreq = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sampled.subsetOf(got), s"sampled $sampled ⊄ full $got")
    // a ubiquitous gram is capped out of the join: each doc differs in
    // ONE letter, so every cross-doc gram is either universal (df=20,
    // capped) or contains the unique letter (unshared) — numeric pads
    // would leak partially-shared suffix grams ("0. all rights…" lives
    // in docs 10 AND 20) under the cap
    val many = (10L until 30L).map(i =>
      (i, s"prefix pad ${('a' + (i - 10)).toChar} $boiler")) :+
      (50L, "nothing in common with anything")
    val capped = Dedup.charGramOverlap(many.toDF("doc_id", "text"),
      k = 16, prefix = "", minShared = 1, maxGramFreq = 5)
    assert(capped.where(col("a") < 30 && col("b") < 30).count() == 0,
      "grams in >5 docs must be frequency-capped out")
  }

  test("char-gram span extent: diagonal runs, gap split, single-gram silence") {
    // deterministic non-periodic strings: random a-z under fixed seeds,
    // so no 16-gram repeats within or across fillers
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val s80 = rnd(1, 80)
    // pair (1,2): one 80-char shared span at different offsets — one
    // diagonal, one run: span = 80 chars, grams = 80 - 16 + 1 = 65
    val a = rnd(2, 30) + s80 + rnd(3, 20)
    val b = rnd(4, 50) + s80 + rnd(5, 10)
    // pair (3,4): S1(40) + filler(100) + S2(80) with DIFFERENT fillers of
    // equal length — both spans sit on the same diagonal but the 116-char
    // sampled-position gap exceeds maxGap=64, so the runs split: span is
    // the longest run (80), grams the densest (65), NOT the 220 extent
    val s40 = rnd(6, 40)
    val s80b = rnd(14, 80)
    val c = s40 + rnd(7, 100) + s80b
    val e = s40 + rnd(8, 100) + s80b
    // pair (5,6): exactly ONE shared 16-char substring → 1 matched gram
    // < minShared=2 → silent
    val t16 = rnd(9, 16)
    val f5 = rnd(10, 20) + t16 + rnd(11, 20)
    val f6 = rnd(12, 20) + t16 + rnd(13, 20)
    val d = Seq((1L, a), (2L, b), (3L, c), (4L, e), (5L, f5), (6L, f6))
      .toDF("doc_id", "text")
    val got = Dedup.charGramSpans(d, k = 16, prefix = "",
        minShared = 2, maxGramFreq = 200, maxGap = 64)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.keySet == Set((1L, 2L), (3L, 4L)), s"pairs: $got")
    assert(got((1L, 2L)) == ((80L, 65L)), s"one-span pair: ${got((1L, 2L))}")
    assert(got((3L, 4L)) == ((80L, 65L)), s"gap-split pair: ${got((3L, 4L))}")
    // with maxGap large enough to bridge the filler, the two spans fuse
    // into one run spanning the whole 220-char layout
    val fused = Dedup.charGramSpans(d.where(col("doc_id").isin(3L, 4L)),
        k = 16, prefix = "", minShared = 2, maxGramFreq = 200, maxGap = 200)
      .collect().map(r => (r.getLong(2), r.getLong(3))).head
    assert(fused == ((220L, 90L)), s"fused run: $fused")
  }

  test("span decontamination: cross-table pairs only, train pairs silent") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val leak = rnd(20, 60)
    val train = Seq(
      (1L, rnd(21, 25) + leak + rnd(22, 10)),
      (2L, rnd(23, 40) + leak),
      (3L, rnd(24, 80))).toDF("doc_id", "text")
    val bench = Seq(
      (100L, rnd(25, 15) + leak + rnd(26, 30)),
      (101L, rnd(27, 70))).toDF("doc_id", "text")
    val got = Dedup.charGramSpansAgainst(train, bench, k = 16, prefix = "",
        minShared = 2, maxGramFreq = 200, maxGap = 64)
    assert(got.columns.toSeq == Seq("doc_id", "bench_id", "span", "grams"))
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // both leaking train docs pair with bench 100 at the full 60-char
    // extent (45 grams); docs 1 and 2 sharing `leak` with EACH OTHER is
    // invisible — this op reports cross-table contamination only
    assert(rows.keySet == Set((1L, 100L), (2L, 100L)), s"$rows")
    assert(rows((1L, 100L)) == ((60L, 45L)) && rows((2L, 100L)) == ((60L, 45L)),
      s"$rows")
  }

  test("span family: occurrence cap bounds repetitive-text join fanout") {
    // two all-'x' docs: ONE distinct gram at ~2000 positions each — the
    // df cap (counts docs) is blind to this, and uncapped the gram join
    // would produce ~4M rows for this single pair. The occ cap keeps
    // the first 8 positions per (doc, gram): the densest diagonal (d=0)
    // then holds 8 consecutive grams → span = 8 - 1 + 16 = 23, grams = 8.
    val d = Seq((7L, "x" * 2000), (8L, "x" * 2000)).toDF("doc_id", "text")
    val r = Dedup.charGramSpans(d, k = 16, prefix = "", minShared = 2,
        maxGramFreq = 200, maxGap = 64).collect()
    assert(r.length == 1, r.mkString(","))
    assert((r.head.getLong(2), r.head.getLong(3)) == ((23L, 8L)),
      r.head.toString)
    // cross-table twin: a repetitive BENCH doc is occurrence-capped too
    val x = Dedup.charGramSpansAgainst(
        d.where(col("doc_id") === 7L), d.where(col("doc_id") === 8L),
        k = 16, prefix = "", minShared = 2, maxGramFreq = 200, maxGap = 64)
      .collect()
    assert(x.length == 1 && (x.head.getLong(2), x.head.getLong(3)) == ((23L, 8L)),
      x.mkString(","))
  }

  test("span index: persisted bench grams reproduce the direct decontamination") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val leak = rnd(40, 60)
    val train = Seq(
      (1L, rnd(41, 25) + leak + rnd(42, 10)),
      (2L, rnd(43, 80))).toDF("doc_id", "text")
    val bench = Seq((100L, rnd(44, 15) + leak + rnd(45, 30)))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("spanidx").toString
    SpanIndex.build(bench, path, prefix = "")
    val idx = SpanIndex.load(spark, path)
    assert(idx.k == 16 && idx.prefix == "" && idx.maxOccur == 8,
      s"params round-trip: k=${idx.k} prefix='${idx.prefix}' occ=${idx.maxOccur}")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaIdx = rows(idx.check(train))
    val direct = rows(Dedup.charGramSpansAgainst(train, bench, prefix = ""))
    assert(viaIdx == direct, s"index check diverged: $viaIdx vs $direct")
    assert(viaIdx.map(t => (t._1, t._2)) == Set((1L, 100L)), s"$viaIdx")

    // checkExact reads the persisted benchmark TEXT and returns the
    // leak's extent exact to the char (60 here — the leak's random
    // neighbors never extend it, 1/26^2 seed risk accepted by the
    // sibling fixtures)
    val exact = rows(idx.checkExact(train))
    assert(exact == Set((1L, 100L, 60L, 1L)),
      s"exact leaked extent via persisted text: $exact")
  }

  test("benchmark registry: per-set attribution, one combined check, " +
    "versioning by replacement reuses the slot") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val leakA = rnd(50, 60)
    val leakB = rnd(51, 60)
    val leakB2 = rnd(52, 60)
    val train = Seq(
      (1L, rnd(53, 20) + leakA + rnd(54, 10)), // leaks suite A only
      (2L, rnd(55, 20) + leakB + rnd(56, 10)), // leaks suite B v1 only
      (3L, rnd(57, 20) + leakB2 + rnd(58, 10)), // leaks suite B v2 only
      (4L, rnd(59, 80))).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("benchreg").toString
    val reg = BenchmarkRegistry.create(spark, path, prefix = "")
    reg.register("suiteA", "v1",
      Seq((7L, rnd(60, 12) + leakA + rnd(61, 8))).toDF("doc_id", "text"))
    reg.register("suiteB", "v1",
      Seq((7L, rnd(62, 12) + leakB + rnd(63, 8))).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSet
    // each leak attributes to ITS suite (same bench id 7 in both sets —
    // the slot band keeps them apart), exact 60-char extents
    val r1 = rows(BenchmarkRegistry.load(spark, path).report(train))
    assert(r1 == Set(
      (1L, "suiteA", "v1", 7L, 60L),
      (2L, "suiteB", "v1", 7L, 60L)), s"$r1")

    // versioning by replacement: suiteB v2 swaps its content — doc 2's
    // leak disappears, doc 3's appears, the version label updates, the
    // slot (and suiteA) are untouched
    val (slotB, _) = reg.manifest("suiteB")
    val manifestA = reg.manifest("suiteA")
    reg.register("suiteB", "v2",
      Seq((9L, rnd(64, 12) + leakB2 + rnd(65, 8))).toDF("doc_id", "text"))
    val reg2 = BenchmarkRegistry.load(spark, path)
    assert(reg2.manifest("suiteB") == ((slotB, "v2")))
    assert(reg2.manifest("suiteA") == manifestA)
    val r2 = rows(reg2.report(train))
    assert(r2 == Set(
      (1L, "suiteA", "v1", 7L, 60L),
      (3L, "suiteB", "v2", 9L, 60L)), s"$r2")
  }

  test("benchmark registry: register() rejects unsafe names, TSV-hostile " +
    "versions, and ids outside the 2^40 band") {
    val path = java.nio.file.Files.createTempDirectory("benchreg-val").toString
    val reg = graft.ext.BenchmarkRegistry.create(spark, path, prefix = "")
    val ok = Seq((1L, "some benchmark text long enough")).toDF("doc_id", "text")
    Seq("a/b", "..", "a\tb", "a b", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](reg.register(bad, "v1", ok))
      assert(e.getMessage.contains("must match"), s"name '$bad': ${e.getMessage}")
    }
    val ev = intercept[IllegalArgumentException](
      reg.register("s", "v\t1", ok))
    assert(ev.getMessage.contains("tabs"), ev.getMessage)
    // out-of-band ids would silently decode to the wrong slot in report()
    Seq(-1L, 1L << 40).foreach { id =>
      val e = intercept[IllegalArgumentException](reg.register("s", "v1",
        Seq((id, "some benchmark text long enough")).toDF("doc_id", "text")))
      assert(e.getMessage.contains("band"), s"id $id: ${e.getMessage}")
    }
    reg.register("s", "v1", ok) // valid case still passes
    assert(reg.manifest("s") == ((0, "v1")))
  }

  test("pinned axis-aligned hyperplanes: bucket bits are exactly the " +
    "component sign pattern, per-table bands disjoint (d86's hook)") {
    // vec components: dims 0..3 drive table 0, dims 4..7 table 1
    val mk = (signs: Seq[Int]) =>
      Array.tabulate(64)(d => if (d < signs.size) signs(d).toDouble else 0.0)
    val emb = Seq(
      (1L, mk(Seq(1, -1, 1, -1, -1, -1, -1, -1)).map(_.toFloat)),
      (2L, mk(Seq(1, -1, 1, -1, 1, 1, 1, 1)).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val pinned = (0 until 8).map(j =>
      Array.tabulate(64)(d => if (d == j) 1.0 else 0.0))
    val c = graft.ext.Similarity.corpusNormalized(emb)
    val buckets = graft.ext.Similarity
      .bucketCorpus(c, planes = 4, tables = 2, planesOverride = Some(pinned))
      .collect().map(r => (r.getLong(0), r.getLong(r.fieldIndex("bucket"))))
      .toSet
    // doc 1: table-0 bits 1010₂ (dims 0,2 positive) = 5; table-1 bits 0
    //        → buckets {5, 0 + 16}
    // doc 2: same table-0 key 5; table-1 bits 1111₂ = 15 → {5, 15 + 16}
    assert(buckets == Set((1L, 5L), (1L, 16L), (2L, 5L), (2L, 31L)), s"$buckets")
    // undersized override is rejected, not silently truncated
    val e = intercept[IllegalArgumentException](
      graft.ext.Similarity.bucketCorpus(c, planes = 4, tables = 4,
        planesOverride = Some(pinned)))
    assert(e.getMessage.contains("planes"), e.getMessage)
  }

  test("line dedup: first occurrence wins, short lines exempt, order preserved") {
    val d = Seq(
      (1L, "alpha beta gamma delta unique\nshared boilerplate line here\nx\ntail one"),
      (2L, "shared boilerplate line here\nsecond doc content line two\nx"),
      (3L, "shared boilerplate line here"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(d, minLen = 10)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 holds the first occurrence of the shared line → verbatim
    assert(got(1L) ==
      "alpha beta gamma delta unique\nshared boilerplate line here\nx\ntail one")
    // doc 2 loses the shared line but keeps its own content AND the
    // short exempt "x" (repeated across docs, below minLen → untouched)
    assert(got(2L) == "second doc content line two\nx", s"'${got(2L)}'")
    // doc 3 was ONLY the shared line → gutted to empty, not dropped
    assert(got(3L) == "")
    assert(got.keySet == Set(1L, 2L, 3L))
    // "tail one" (8 chars) is exempt and survives even though unique
  }

  test("line index: history dups removed, replay idempotent, fold identity") {
    val path = java.nio.file.Files.createTempDirectory("lineidx").toString
    val corpus = Seq(
      (1L, "shared boilerplate line here\nalpha content line number one"),
      (2L, "beta content line number two")).toDF("doc_id", "text")
    LineIndex.build(corpus, path, minLen = 10)
    val idx = LineIndex.load(spark, path)
    assert(idx.sep == "\n" && idx.minLen == 10,
      s"params round-trip: sep=${idx.sep.map(_.toInt)} minLen=${idx.minLen}")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = Seq(
      (10L, "shared boilerplate line here\nnew batch line alpha\nx"),
      (11L, "new batch line alpha\nnew batch line beta"))
      .toDF("doc_id", "text")
    val cleanDf = idx.dedupLinesBatch(batch)
    val clean = rows(cleanDf)
    // history dup removed, short "x" exempt, within-batch first
    // occurrence (doc 10) wins over doc 11's copy
    assert(clean(10L) == "new batch line alpha\nx", s"'${clean(10L)}'")
    assert(clean(11L) == "new batch line beta", s"'${clean(11L)}'")
    idx.append(cleanDf, "b0")
    // a later delivery dups the batch-0 keeper → removed via the index
    val batch2 = Seq((20L, "new batch line alpha\nfresh line content two"))
      .toDF("doc_id", "text")
    val clean2 = rows(idx.dedupLinesBatch(batch2))
    assert(clean2(20L) == "fresh line content two")
    // replay of batch 0 hides its own segment → identical cleaning
    val replay = rows(idx.dedupLinesBatch(batch, excludeSeg = Some("b0")))
    assert(replay == clean, "replay must reproduce the original cleaning")
    // fold b0 into base: every cleaning identical before/after
    assert(idx.compact(Seq("b0")) == Seq("b0"))
    val folded = LineIndex.load(spark, path)
    assert(rows(folded.dedupLinesBatch(batch2)) == clean2)
  }

  test("span removal: loser sheds the span, keeper intact, full dup empties") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val s80 = rnd(30, 80)
    val x30 = rnd(31, 30); val y20 = rnd(32, 20)
    val z40 = rnd(33, 40); val w10 = rnd(34, 10)
    val solo = rnd(35, 50)
    val d = Seq(
      (1L, x30 + s80 + y20), // smallest id: keeps the span everywhere
      (2L, z40 + s80 + w10), // loses s80 to doc 1 → z40 + w10
      (3L, s80),             // IS the span → fully excised, empty text
      (4L, solo))            // untouched
      .toDF("doc_id", "text")
    val got = Dedup.removeSharedSpans(d, k = 16, prefix = "", minShared = 2,
        maxGramFreq = 200, maxGap = 64, minSpan = 50)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == x30 + s80 + y20, "keeper must be verbatim")
    assert(got(2L) == z40 + w10, s"loser splice: ${got(2L).length} chars")
    assert(got(3L) == "", "fully-duplicated doc stays with empty text")
    assert(got(4L) == solo, "untouched doc must be verbatim")
  }

  test("global span removal: overlap chain resolves to ONE cluster keeper") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    // the pairwise anomaly: S = A+B+C; doc 1 holds A+B, doc 2 holds
    // B+C, doc 3 holds all of S. Pairs (1,3) and (2,3) qualify; (1,2)
    // shares only B (40 chars < minSpan) — no run. Pairwise smaller-id
    // removes both intervals from doc 3 and doc 2 keeps B+C: TWO
    // surviving occurrences of B. Cluster-global links doc 3's two
    // overlapping intervals, so the whole chain is one component and
    // only the (id, s)-minimum — doc 1's A+B — survives.
    val a40 = rnd(40, 40); val b40 = rnd(41, 40); val c40 = rnd(42, 40)
    val z30 = rnd(43, 30); val w30 = rnd(44, 30)
    val solo = rnd(45, 50)
    val d = Seq(
      (1L, z30 + a40 + b40), // cluster keeper: earliest doc
      (2L, b40 + c40 + w30), // pairwise would keep B+C; global excises it
      (3L, a40 + b40 + c40), // both intervals removed → empty
      (4L, solo))            // untouched
      .toDF("doc_id", "text")
    val pairwise = Dedup.removeSharedSpans(d, k = 16, prefix = "",
        minShared = 2, maxGramFreq = 200, maxGap = 64, minSpan = 50)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pairwise(2L) == b40 + c40 + w30,
      "pairwise keeps doc 2 verbatim — the two-occurrence anomaly")
    assert(pairwise(3L) == "", "pairwise: doc 3 loses both intervals")
    val got = Dedup.removeSharedSpansGlobal(d, k = 16, prefix = "",
        minShared = 2, maxGramFreq = 200, maxGap = 64, minSpan = 50)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == z30 + a40 + b40, "cluster keeper must be verbatim")
    assert(got(2L) == w30, s"doc 2 must shed B+C: '${got(2L)}'")
    assert(got(3L) == "", "doc 3 loses its whole span chain")
    assert(got(4L) == solo, "untouched doc must be verbatim")
  }

  test("global span removal: ADJACENT intervals stay separate clusters") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    // doc 2 holds X then Y back to back; X pairs with doc 1, Y with
    // doc 3. The intervals touch at a point but share no characters —
    // linking them would chain X's and Y's clusters and extinguish Y
    // corpus-wide. Strict overlap keeps two clusters: doc 1 keeps X,
    // doc 2 keeps Y (it is Y's earliest occurrence).
    val x80 = rnd(50, 80); val y80 = rnd(51, 80)
    val p30 = rnd(52, 30); val q20 = rnd(53, 20); val w10 = rnd(54, 10)
    val d = Seq(
      (1L, p30 + x80 + q20), // X's keeper
      (2L, x80 + y80),       // loses X to doc 1, keeps Y
      (3L, y80 + w10))       // loses Y to doc 2
      .toDF("doc_id", "text")
    val got = Dedup.removeSharedSpansGlobal(d, k = 16, prefix = "",
        minShared = 2, maxGramFreq = 200, maxGap = 64, minSpan = 50)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == p30 + x80 + q20, "X keeper verbatim")
    assert(got(2L) == y80, s"doc 2 sheds X, keeps Y: '${got(2L).take(20)}…'")
    assert(got(3L) == w10, "doc 3 sheds Y")
  }

  test("exact gram runs: extents exact to the char, sub-sample spans visible, mismatches split") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val s80 = rnd(60, 80); val s20 = rnd(61, 20)
    val u40 = rnd(62, 40); val v40 = rnd(63, 40)
    val d = Seq(
      (1L, rnd(64, 30) + s80 + rnd(65, 20)),
      (2L, rnd(66, 40) + s80 + rnd(67, 10)),  // 80 shared with 1 at d = -10
      (3L, rnd(68, 25) + s20 + rnd(69, 25)),
      (4L, s20 + rnd(70, 50)),                // 20 shared with 3 — below the
                                              // sampled family's radar
      (5L, u40 + "!" + v40),
      (6L, u40 + "?" + v40))                  // one differing char splits 5|6
      .toDF("doc_id", "text")
    val runs = Dedup.exactGramRuns(d)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(6), r.getLong(5), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // (1,2): sa = 31 (a-coords), d = 31 - 41 = -10, ext EXACTLY 80,
    // cnt = 80 - 16 + 1 (every position, no sampling)
    assert(runs((1L, 2L)) == Set((-10L, 31L, 80L, 65L)),
      s"exact 80-char run: ${runs((1L, 2L))}")
    // (3,4): a 20-char span — invisible to prefix-"0" minShared=2
    // sampling, exact here with ext = 20, cnt = 5
    assert(runs((3L, 4L)) == Set((25L, 26L, 20L, 5L)),
      s"sub-sample span: ${runs((3L, 4L))}")
    // (5,6): same diagonal, one differing char → TWO exact runs of 40
    assert(runs((5L, 6L)).map(t => (t._1, t._3)) == Set((0L, 40L)) &&
      runs((5L, 6L)).size == 2,
      s"mismatch splits: ${runs((5L, 6L))}")
  }

  test("exactify: sampled runs upgrade to exact extents; slack extension; bridge splits") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    // 400-char shared span: the sampled family sees conservative edges;
    // exactify must recover ext = 400 even from slack = 8 (forcing the
    // doubling extension loop), matching exactGramRuns to the char
    val s400 = rnd(80, 400)
    val dd = Seq(
      (1L, rnd(81, 37) + s400 + rnd(82, 23)),
      (2L, rnd(83, 11) + s400 + rnd(84, 41)))
      .toDF("doc_id", "text")
    val sampled = Dedup.charGramRuns(dd, k = 16, prefix = "0",
      minShared = 2, maxGramFreq = 200, maxGap = 64)
    assert(sampled.count() >= 1, "fixture must be sampled-visible")
    val viaSample = sampled.select("a", "b", "d", "sa", "ext").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = Dedup.exactifyRuns(dd, sampled, minKeep = 16, slack = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(exact == Set((1L, 2L, 26L, 38L, 400L)),
      s"exact extent from slack=8: $exact")
    assert(viaSample.forall(t => t == ((1L, 2L, 26L))), s"diagonal: ${viaSample.toSeq}")

    // a sampled run BRIDGES a 10-char mismatch (gap ≤ maxGap) on one
    // diagonal; exactify splits it into the two true runs — and agrees
    // with exactGramRuns run for run
    val l60 = rnd(85, 60); val r60 = rnd(86, 60)
    // explicit distinct endpoints: p20.reverse must not share its char
    // adjacent to l60 with p20, or the run extends 1 left by accident
    val p20 = "A" + rnd(87, 18) + "B"
    // bridge strings with explicitly distinct endpoints — equal first
    // or last bridge chars would legitimately extend the exact runs
    val bridged = Seq(
      (1L, p20 + l60 + ("C" + rnd(88, 8) + "D") + r60),
      (2L, p20.reverse + l60 + ("E" + rnd(89, 8) + "F") + r60))
      .toDF("doc_id", "text")
    val bSampled = Dedup.charGramRuns(bridged, k = 16, prefix = "0",
      minShared = 2, maxGramFreq = 200, maxGap = 64)
    val bExact = Dedup.exactifyRuns(bridged, bSampled, minKeep = 16)
      .select("a", "b", "d", "sa", "ext").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val reference = Dedup.exactGramRuns(bridged, minShared = 1)
      .where(col("ext") >= 16)
      .select("d", "sa", "ext").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bExact == reference, s"exactify $bExact vs exact $reference")
    assert(bExact.map(_._3) == Set(60L), s"two 60-char runs: $bExact")
  }

  test("unigram LM: add-one math exact, OOV shares the formula, empty doc null") {
    val train = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val lm = TextAnalysis.unigramLm(train)
    assert(lm.tokens == 5 && lm.vocab == 3, s"N=${lm.tokens} V=${lm.vocab}")
    val denom = math.log(9.0) // N + V + 1
    assert(math.abs(lm.oovLogp - -denom) < 1e-12)
    val got = TextAnalysis.unigramNll(
        Seq((10L, "a z"), (11L, "")).toDF("doc_id", "text"), lm)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    // "a" seen 2× → ln(3) − ln(9); "z" unseen → ln(1) − ln(9)
    val expect = -((math.log(3) - denom) + (0.0 - denom)) / 2
    assert(got(10L)._1 == 2 && math.abs(got(10L)._2.get - expect) < 1e-12,
      s"nll math: ${got(10L)}")
    assert(got(11L) == ((0L, None)), "token-less doc keeps a row, null nll")
  }

  test("bigram LM: interpolation math exact, first token unigram-only, unseen context") {
    val train = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val lm = TextAnalysis.bigramLm(train, lambda = 0.7)
    // N=5, V=3; bigrams (a,a)=1, (a,b)=1, (b,c)=1 — (b,?) never crosses
    // the doc-1/doc-2 boundary.
    assert(lm.tokens == 5 && lm.vocab == 3, s"N=${lm.tokens} V=${lm.vocab}")
    val bi = lm.bi.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(bi == Map(("a", "a") -> 1L, ("a", "b") -> 1L, ("b", "c") -> 1L),
      s"bigram table: $bi")
    val got = TextAnalysis.bigramNll(
        Seq((10L, "a b"), (11L, "z z"), (12L, "")).toDF("doc_id", "text"), lm)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    // doc 10: "a" first → pu = (2+1)/9; "b"|"a" → pb = (1+1)/(2+4),
    // pu = 3/9, p = 0.7/3 + 0.3/3 = 1/3 exactly.
    val e10 = -(math.log(3.0 / 9) + math.log(1.0 / 3)) / 2
    assert(got(10L)._1 == 2 && math.abs(got(10L)._2.get - e10) < 1e-12,
      s"seen-bigram math: ${got(10L)}")
    // doc 11: "z" first → pu = 1/9; "z"|"z" unseen context → pb =
    // (0+1)/(0+4), same add-one formula at c = 0.
    val e11 = -(math.log(1.0 / 9) +
      math.log(0.7 / 4 + 0.3 / 9)) / 2
    assert(math.abs(got(11L)._2.get - e11) < 1e-12,
      s"unseen-context math: ${got(11L)}")
    assert(got(12L) == ((0L, None)), "token-less doc keeps a row, null nll")
  }

  test("payloadHash: hand bits, empty payload, one-byte flip stays local") {
    val half = Multimodal.MediaBlob(1L, "image",
      (Array.fill(60)(0.toByte) ++ Array.fill(60)(255.toByte)))
    val empty = Multimodal.MediaBlob(2L, "image", Array.emptyByteArray)
    val flat = Multimodal.MediaBlob(3L, "image", Array.fill(120)(7.toByte))
    val hs = Multimodal.payloadHash(spark.createDataset(Seq(half, empty, flat)))
      .collect().map(h => h.id -> h.phash).toMap
    // low 30 segments sit below the global mean, high 30 above
    assert(hs(1L) == (((1L << 60) - 1) ^ ((1L << 30) - 1)), s"got ${hs(1L).toBinaryString}")
    assert(hs(2L) == 0L)
    assert(hs(3L) == 0L, "uniform payload: no segment exceeds the mean")
    // a single flipped byte moves at most a few segment means → the
    // pigeonhole join finds the pair at a tight radius
    val base = ("the quick brown fox jumps over the lazy dog " * 4).getBytes("UTF-8")
    val tweaked = base.clone(); tweaked(21) = 'X'.toByte
    val far = ("completely different material with other words entirely here " * 3)
      .getBytes("UTF-8")
    val sigs = Multimodal.payloadHash(spark.createDataset(Seq(
      Multimodal.MediaBlob(10L, "image", base),
      Multimodal.MediaBlob(11L, "image", tweaked),
      Multimodal.MediaBlob(12L, "image", far)))).toDF()
    val pairs = Dedup.hammingPairs(sigs, maxDist = 5, bits = 60, sigCol = "phash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)), s"flipped-byte pair missed: $pairs")
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L),
      s"unrelated payload paired: $pairs")
  }

  test("shard export: balance, totality, determinism, one file per shard") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val n = 8
    val assigned = Curation.shardAssign(d, n).cache()
    val m = Curation.shardManifest(assigned).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // totality: every doc in exactly one shard, totals conserved
    assert(assigned.count() == d.count())
    assert(m.values.map(_._1).sum == d.count())
    // balance: every shard within one max-doc of the ideal token mass
    val maxDoc = assigned.agg(max("toks")).first().getLong(0)
    val total = m.values.map(_._2).sum
    val ideal = total.toDouble / n
    assert(m.size == n, s"empty shard: $m")
    m.values.foreach { case (_, toks) =>
      assert(math.abs(toks - ideal) <= maxDoc + 1,
        s"shard imbalance: $toks vs ideal $ideal (maxDoc $maxDoc)")
    }
    // determinism
    val again = Curation.shardAssign(d, n).select("doc_id", "shard")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(again == assigned.select("doc_id", "shard")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    // the writer: one parquet file per shard directory, round-trip exact
    val path = java.nio.file.Files.createTempDirectory("graft-shards").toString
    Curation.writeShards(d, path, n)
    val dirs = new java.io.File(path).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(dirs.length == n)
    dirs.foreach { sd =>
      val files = sd.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${sd.getName}: ${files.length} files (want 1)")
    }
    val back = spark.read.parquet(path)
    assert(back.count() == d.count())
    assert(back.select("doc_id").except(d.select("doc_id")).isEmpty)
  }

  test("shard export: giant-doc skew, degenerate corpora, randomized invariants") {
    // one doc carries ~90% of the token mass: it owns a shard span by
    // itself and the rest still balance
    val giant = (1L, ("tok " * 9000).trim)
    val small = (2L to 41L).map(i => (i, ("w " * 25).trim))
    val skewed = (Seq(giant) ++ small).toDF("doc_id", "text")
    val n = 4
    val a = Curation.shardAssign(skewed, n).cache()
    val m = Curation.shardManifest(a).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(a.count() == 41)
    // the giant doc is whole in exactly one shard
    val gShard = a.where(col("doc_id") === 1L).select("shard").head().getInt(0)
    assert(m(gShard) >= 9000L)
    // corpora smaller than the shard count: every doc still lands; no
    // out-of-range shard ids
    val tiny = Seq((1L, "only doc here")).toDF("doc_id", "text")
    val ta = Curation.shardAssign(tiny, 8).collect()
    assert(ta.length == 1 && ta(0).getInt(3) >= 0 && ta(0).getInt(3) < 8)
    // empty-text docs (zero tokens) don't crash or leak shard range
    val zero = Seq((1L, ""), (2L, "some words here")).toDF("doc_id", "text")
    val za = Curation.shardAssign(zero, 4).collect()
    assert(za.length == 2 && za.forall(r => r.getInt(3) >= 0 && r.getInt(3) < 4))
    // randomized: three seeds of variable-length docs — totals conserved,
    // balance within the largest doc
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val docs = (0L until 60L).map(i =>
        (i, ("x " * (1 + rnd.nextInt(200))).trim)).toDF("doc_id", "text")
      val asg = Curation.shardAssign(docs, 5).cache()
      val man = Curation.shardManifest(asg).collect()
        .map(r => (r.getLong(1), r.getLong(2)))
      val maxDoc = asg.agg(max("toks")).head().getLong(0)
      val total = man.map(_._2).sum
      assert(man.map(_._1).sum == 60, s"trial $trial: doc loss")
      man.foreach { case (_, t) =>
        assert(math.abs(t - total.toDouble / 5) <= maxDoc + 1,
          s"trial $trial imbalance: $t vs ${total / 5.0}")
      }
    }
  }

  test("c4 rules: line retention, sentence floor, lorem/brace page drops") {
    val keepable = "alpha beta gamma delta epsilon.\nzeta eta theta iota kappa!\n" +
      "lambda mu nu xi omicron pi?\nshort one.\nno terminal punct six words here"
    val d = Seq(
      (1L, keepable),                                    // 3 kept lines → keep
      (2L, keepable + "\nthis page has lorem ipsum in."),// lorem → drop
      (3L, keepable.replace("delta", "del{ta")),         // brace → drop
      (4L, "alpha beta gamma delta epsilon.\nzeta eta theta iota kappa!"), // 2 sentences → drop
      (5L, "alpha beta gamma delta javascript epsilon.\n" + keepable)      // js line dropped, rest keeps
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4Rules(d).collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getInt(1) == 5 && r1.getInt(2) == 3 && r1.getInt(3) == 3)
    assert(r1.getInt(4) == 0 && r1.getInt(5) == 0 && r1.getInt(6) == 1)
    assert(r1.getString(7) == keepable.split("\n").take(3).mkString("\n"))
    assert(got(2L).getInt(6) == 0 && got(2L).getInt(4) == 1, "lorem must drop")
    assert(got(3L).getInt(6) == 0 && got(3L).getInt(5) == 1, "brace must drop")
    assert(got(4L).getInt(6) == 0 && got(4L).getInt(3) == 2, "sentence floor")
    // the javascript LINE drops but the page keeps on the other 3
    assert(got(5L).getInt(6) == 1 && got(5L).getInt(2) == 3,
      s"javascript line handling: ${got(5L)}")
  }

  test("trigram LM: hand math, l3=0 degenerates to bigram, context availability") {
    val train = Seq((1L, "a a b a a b"), (2L, "b c a")).toDF("doc_id", "text")
    val lm = TextAnalysis.trigramLm(train, l3 = 0.5, l2 = 0.25)
    assert(lm.tokens == 9 && lm.vocab == 3)
    val tri = lm.tri.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    // doc 1 trigrams: aab, aba, baa, aab; doc 2: bca
    assert(tri == Map(("a", "a", "b") -> 2L, ("a", "b", "a") -> 1L,
      ("b", "a", "a") -> 1L, ("b", "c", "a") -> 1L), s"trigram table: $tri")
    val score = Seq((10L, "a a b"), (11L, "z"), (12L, "q q q q")).toDF("doc_id", "text")
    val got = TextAnalysis.trigramNll(score, lm)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    // doc 10: N=9, V=3; cnt a=5 b=3 c=1 → pu(a) = (5+1)/13, pu(b) = (3+1)/13;
    // "a" → pu; "a"|a → 0.75·pb + 0.25·pu, pb(a|a) = (2+1)/(5+4);
    // "b"|aa → 0.5·pt + 0.25·pb + 0.25·pu,
    //   pt(b|aa) = (2+1)/(2+4) (ctx bigram aa = 2), pb(b|a) = (2+1)/(5+4)
    val puA = 6.0 / 13; val puB = 4.0 / 13
    val p2 = 0.75 * (3.0 / 9) + 0.25 * puA
    val p3 = 0.5 * (3.0 / 6) + 0.25 * (3.0 / 9) + 0.25 * puB
    val e10 = -(math.log(puA) + math.log(p2) + math.log(p3)) / 3
    assert(got(10L)._1 == 3 && math.abs(got(10L)._2.get - e10) < 1e-12,
      s"trigram hand math: ${got(10L)}")
    // single token → unigram-only; unseen token pu = 1/13
    assert(math.abs(got(11L)._2.get - -math.log(1.0 / 13)) < 1e-12)
    // fully unseen everything exercises every coalesce path
    assert(got(12L)._2.get > got(10L)._2.get,
      "gibberish must score worse than training-like text")
    // l3 = 0 with l2 = 0.7 must equal the bigram model at λ = 0.7 on
    // every document (the trigram term carries zero mass, the second-
    // token backoff weight is the same 0.7)
    val lm0 = TextAnalysis.trigramLm(train, l3 = 0.0, l2 = 0.7)
    val lmB = TextAnalysis.bigramLm(train, lambda = 0.7)
    val a = TextAnalysis.trigramNll(score, lm0).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    val b = TextAnalysis.bigramNll(score, lmB).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
    assert(a.zip(b).forall { case ((i1, t1, n1), (i2, t2, n2)) =>
      i1 == i2 && t1 == t2 && (n1.isNaN && n2.isNaN || math.abs(n1 - n2) < 1e-12)
    }, s"l3=0 twin diverged:\n${a.toSeq}\n${b.toSeq}")
  }

  test("gopher rules: metrics exact on hand-built docs, each rule flags correctly") {
    val d = Seq(
      (1L, "- aa bb... cc\n# the dd to\nx"),
      (2L, "aaaa bbbb...\ncccc dddd"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(d, minWords = 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 9 ws-words, 19 non-ws chars; symbols # + ... = 2; 3 lines,
    // one bullet; alpha words 7 (− '-' and '#'); stops {the, to} = 2.
    val r1 = got(1L)
    assert(r1.getLong(1) == 9 && math.abs(r1.getDouble(2) - 19.0 / 9) < 1e-15)
    assert(math.abs(r1.getDouble(3) - 2.0 / 9) < 1e-15, "symbol_ratio")
    assert(math.abs(r1.getDouble(4) - 1.0 / 3) < 1e-15, "bullet_frac")
    assert(r1.getDouble(5) == 0.0, "ellipsis_frac")
    assert(math.abs(r1.getDouble(6) - 7.0 / 9) < 1e-15, "alpha_frac")
    assert(r1.getLong(7) == 2, "stop_hits")
    // flags: words pass, word_len fail (2.11<3), symbol fail (0.22>0.1),
    // bullet pass, ellipsis pass, alpha fail (0.778<0.8), stop pass
    assert((8 to 15).map(r1.getInt) == Seq(1, 0, 0, 1, 1, 0, 1, 0),
      s"doc1 flags: ${(8 to 15).map(r1.getInt)}")
    // doc 2: 4 words (min 5 fails), mean 19/4 passes, one of two lines
    // ends with an ellipsis (0.5 > 0.3 fails), no stops.
    val r2 = got(2L)
    assert(r2.getLong(1) == 4 && math.abs(r2.getDouble(5) - 0.5) < 1e-15)
    assert((8 to 15).map(r2.getInt) == Seq(0, 1, 0, 1, 0, 1, 0, 0),
      s"doc2 flags: ${(8 to 15).map(r2.getInt)}")
    // doc 3: empty text keeps its row, all-zero metrics, keep = 0.
    val r3 = got(3L)
    assert(r3.getLong(1) == 0 && r3.getDouble(2) == 0.0 && r3.getInt(15) == 0)
  }

  test("linear scorer: weighted hashed-TF sigmoid, featureless doc scores sigmoid(bias)") {
    // deterministic toy hasher: bucket = token length % dim
    val lenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => length(t).cast("long")
    val d = Seq((1L, "ab"), (2L, "!!! ...")).toDF("doc_id", "text")
    val got = TextAnalysis.scoreLinear(d, Seq(0.1, 0.2, 0.3, 0.4),
        bias = -0.5, hasher = lenHash)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1: one token "ab" → bucket 2, w = 1.0 → z = 0.3
    assert(math.abs(got(1L) - 1.0 / (1.0 + math.exp(-(0.3 - 0.5)))) < 1e-12,
      s"score math: ${got(1L)}")
    // doc 2: no [A-Za-z0-9] tokens → no features → sigmoid(bias)
    assert(math.abs(got(2L) - 1.0 / (1.0 + math.exp(0.5))) < 1e-12,
      s"featureless score: ${got(2L)}")
  }

  test("exactify: repetitive text stays bounded — aligned compare has no fanout") {
    // two identical log-like docs: every 16-gram repeats 12× per doc,
    // the classic join-blowup fixture. Sampled candidates are occ-capped
    // (8 per (doc, gram)); the per-char verify is aligned 1:1 by the
    // diagonal, so exactify must terminate quickly AND report the exact
    // structure: d=0 matches the whole doc; every other diagonal is a
    // multiple of the 42-char period (self-similarity), shorter by |d|.
    val rep = "error at line 42; retrying connection now " * 12
    val d = Seq((1L, rep), (2L, rep)).toDF("doc_id", "text")
    val cands = Dedup.charGramRuns(d, k = 16, prefix = "", minShared = 2,
      maxGramFreq = 200, maxGap = 64)
    val got = Dedup.exactifyRuns(d, cands, minKeep = 16)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    val full = got.filter(_._1 == 0L)
    assert(full.toSeq == Seq((0L, 1L, rep.length.toLong)),
      s"d=0 must be one exact full-length run: ${full.toSeq}")
    assert(got.forall(t => t._1 % 42 == 0 && t._3 == rep.length - math.abs(t._1)),
      s"off-diagonals must be period-aligned with exact shifted extents: ${got.toSeq}")
  }

  test("cross-table exactify: exact leaked extent, train-train pairs silent") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    // an eval item of exactly 200 chars leaks verbatim into train doc 1;
    // train docs 1 and 2 also share a 100-char span BETWEEN THEMSELVES —
    // the cross-table candidates must surface only the bench leak, and
    // its extent must come back exact to the char (the sampled d29
    // numbers are conservative at the edges)
    val leak = "A" + rnd(100, 198) + "B"
    val t100 = "C" + rnd(101, 98) + "D"
    val train = Seq(
      (1L, rnd(102, 21) + leak + rnd(103, 15) + t100),
      (2L, t100 + rnd(104, 60)))
      .toDF("doc_id", "text")
    val bench = Seq((50L, rnd(105, 9) + leak + rnd(106, 11)))
      .toDF("doc_id", "text")
    val cands = Dedup.charGramRunsAgainst(train, bench, k = 16,
      prefix = "", minShared = 2, maxGramFreq = 200, maxGap = 64)
    val got = Dedup.exactifyRuns(train, cands, minKeep = 16, slack = 8,
        docsB = Some(bench))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set((1L, 50L, 22L, 200L)),
      s"exact leak extent in train coords: $got")
  }

  test("fingerprint index: cross pairs exact, own-segment exclusion, fold identity") {
    val path = java.nio.file.Files.createTempDirectory("fpidx").toString
    val corpus = Seq(
      (1L, "Alpha, beta GAMMA!"),
      (2L, "totally different content here"),
      (3L, "unrelated third document")).toDF("doc_id", "text")
    FingerprintIndex.build(corpus, path)
    val idx = FingerprintIndex.load(spark, path)
    // canonicalization: case/punct variants collide, new content doesn't
    val batch = Seq(
      (101L, "alpha beta gamma"),
      (102L, "brand new never seen")).toDF("doc_id", "text")
    def pairs(i: FingerprintIndex, ex: Option[String] = None) =
      i.dedupBatch(batch, excludeSeg = ex).select("doc_id", "dup_of")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(pairs(idx) == Seq((101L, 1L)))

    // append survivors; a replay excluding its own segment reproduces
    // the original verdicts even though 102's fp is now indexed
    idx.append(Seq((102L, "brand new never seen")).toDF("doc_id", "text"),
      seg = "b7")
    assert(pairs(idx) == Seq((101L, 1L), (102L, 102L)),
      "a re-delivered id matches its own indexed row")
    assert(pairs(idx, ex = Some("b7")) == Seq((101L, 1L)),
      "own-segment exclusion must hide the batch's earlier append")

    // fold preserves every verdict; layout shrinks to base
    assert(idx.compact(Seq("b7")) == Seq("b7"))
    val segs = Option(new java.io.File(s"$path/fps").listFiles)
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSet
    assert(segs == Set("seg=base"))
    assert(pairs(FingerprintIndex.load(spark, path)) ==
      Seq((101L, 1L), (102L, 102L)))
  }

  test("semantic dedup: nlist=1 equals the all-pairs keeper rule; clustering only adds survivors") {
    // brute-force reference: drop ids with a smaller-id neighbor at cos>=tau
    val c = Similarity.corpus(emb)
    val drop = c.as("x").join(c.as("y"), col("x.id") < col("y.id"))
      .where(Similarity.cosine(col("x.vec"), col("y.vec")) >= 0.35)
      .select(col("y.id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val all = c.select("id").collect().map(_.getLong(0)).toSet
    val expect = all -- drop

    val exact = Dedup.semanticDedup(emb, tau = 0.35, nlist = 1, normalized = false)
      .collect().map(_.getLong(0)).toSet
    assert(exact == expect, s"nlist=1 must equal brute force: ${exact.size} vs ${expect.size}")

    // cluster blocking only REMOVES candidate pairs → can only rescue docs
    val clustered = Dedup.semanticDedup(emb, tau = 0.35, nlist = 4)
      .collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(clustered),
      s"exact survivors must be ⊆ clustered survivors (missing ${exact -- clustered})")
    // and it should still do real work: agreement stays high on the fixture
    val agree = exact.size.toDouble / clustered.size
    assert(agree >= 0.5, s"clustered dedup dropped too little: $agree")
    // deterministic across runs
    val again = Dedup.semanticDedup(emb, tau = 0.35, nlist = 4)
      .collect().map(_.getLong(0)).toSet
    assert(again == clustered)
  }

  test("bloom gate: verdicts identical to the exact join, all-new fast path reads no index, FPs discharged") {
    val path = java.nio.file.Files.createTempDirectory("fpbloom").toString
    val corpus = (1L to 50L).map(i => (i, s"indexed document number $i body"))
      .toDF("doc_id", "text")
    FingerprintIndex.build(corpus, path, bloom = true)
    val idx = FingerprintIndex.load(spark, path)
    assert(new java.io.File(path, "bloom/seg=base.bf").isFile,
      "build(bloom = true) must write the base sidecar")

    // mixed batch: dup of 7, case/punct variant of 9, two never-seen
    val batch = Seq(
      (101L, "indexed document number 7 body"),
      (102L, "Indexed DOCUMENT number 9, body!"),
      (103L, "never seen before content one"),
      (104L, "never seen before content two")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "dup_of").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(rows(idx.dedupBatchBloom(batch)) == rows(idx.dedupBatch(batch)))
    assert(rows(idx.dedupBatchBloom(batch)) == Seq((101L, 7L), (102L, 9L)))

    // append + compact maintain the sidecars (folded .bf deleted, base
    // rebuilt) and verdicts still match the exact join afterwards
    idx.append(Seq((103L, "never seen before content one")).toDF("doc_id", "text"),
      seg = "b0")
    assert(new java.io.File(path, "bloom/seg=b0.bf").isFile)
    assert(idx.compact(Seq("b0")) == Seq("b0"))
    assert(!new java.io.File(path, "bloom/seg=b0.bf").exists)
    val idx2 = FingerprintIndex.load(spark, path)
    assert(rows(idx2.dedupBatchBloom(batch)) == rows(idx2.dedupBatch(batch)))
    assert(rows(idx2.dedupBatchBloom(batch)) ==
      Seq((101L, 7L), (102L, 9L), (103L, 103L)))

    // the all-new fast path answers WITHOUT the fps table: delete it and
    // the gate still returns empty; a hitting batch must now throw
    val allNew = Seq((201L, "completely fresh alpha"),
      (202L, "completely fresh beta")).toDF("doc_id", "text")
    assert(idx2.dedupBatchBloom(allNew).isEmpty)
    SegmentedTable.deleteRecursively(new java.io.File(path, "fps"))
    spark.catalog.refreshByPath(s"$path/fps")
    assert(idx2.dedupBatchBloom(allNew).isEmpty,
      "zero-hit batches must never touch the fps table")
    intercept[Exception] { idx2.dedupBatchBloom(batch).collect() }
  }

  test("bloom gate: high-fpp filter floods false positives, exact verify still discharges them; no sidecar degrades to exact") {
    // fpp = 0.5: roughly half the all-new batch hits the filter — every
    // hit is a false positive and must be removed by the exact join
    val path = java.nio.file.Files.createTempDirectory("fpbloomfpp").toString
    val corpus = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    FingerprintIndex.build(corpus, path, bloom = true, fpp = 0.5)
    val idx = FingerprintIndex.load(spark, path)
    val allNew = (1000L to 1199L).map(i => (i, s"fresh $i")).toDF("doc_id", "text")
    assert(idx.dedupBatchBloom(allNew).isEmpty,
      "false positives must never survive the exact verify")
    assert(idx.dedupBatchBloom(corpus).count() == 200L,
      "true duplicates must all survive the gate (no false negatives)")

    // an index built WITHOUT the gate answers through the exact join
    val plainPath = java.nio.file.Files.createTempDirectory("fpplain").toString
    FingerprintIndex.build(corpus, plainPath)
    val plain = FingerprintIndex.load(spark, plainPath)
    assert(plain.dedupBatchBloom(corpus).count() == 200L)
    assert(plain.dedupBatchBloom(allNew).isEmpty)
  }

  test("bloom gate: compact crash window is safe (leftover folded sidecar = extra hits only) and ids stay type-generic") {
    // compact() writes the rebuilt base sidecar BEFORE deleting the
    // folded ones, so the only observable mid-crash state is
    // {fresh base sidecar + leftover folded sidecar}. Reproduce that
    // state explicitly and pin that verdicts stay identical to the
    // exact join — the leftover only adds false hits the join
    // discharges. (The pre-fix order could leave a STALE base sidecar
    // missing the folded keys: silent false NEGATIVES.)
    val path = java.nio.file.Files.createTempDirectory("fpcrash").toString
    val corpus = (1L to 30L).map(i => (i, s"crash window doc $i"))
      .toDF("doc_id", "text")
    FingerprintIndex.build(corpus, path, bloom = true)
    val idx = FingerprintIndex.load(spark, path)
    val extra = Seq((31L, "late arrival alpha"), (32L, "late arrival beta"))
      .toDF("doc_id", "text")
    idx.append(extra, seg = "b0")
    val b0 = new java.io.File(path, "bloom/seg=b0.bf")
    val saved = java.nio.file.Files.readAllBytes(b0.toPath)
    assert(idx.compact(Seq("b0")) == Seq("b0"))
    // resurrect the folded sidecar = the crash-window state
    java.nio.file.Files.write(b0.toPath, saved)
    val mid = FingerprintIndex.load(spark, path)
    val probe = Seq((100L, "late arrival alpha"), (101L, "crash window doc 5"),
      (102L, "brand new content")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "dup_of").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(rows(mid.dedupBatchBloom(probe)) == rows(mid.dedupBatch(probe)))
    assert(rows(mid.dedupBatchBloom(probe)) == Seq((100L, 31L), (101L, 5L)),
      "folded keys must stay visible through the rebuilt base sidecar")

    // the gate must not pin the id column to Long (the index API is
    // id-type-generic): string ids flow through the bloom path
    val spath = java.nio.file.Files.createTempDirectory("fpstr").toString
    val scorpus = Seq(("a", "string id doc one"), ("b", "string id doc two"))
      .toDF("doc_id", "text")
    FingerprintIndex.build(scorpus, spath, bloom = true)
    val sidx = FingerprintIndex.load(spark, spath)
    val sbatch = Seq(("x", "string id doc one"), ("y", "fresh"))
      .toDF("doc_id", "text")
    val got = sidx.dedupBatchBloom(sbatch)
      .select("doc_id", "dup_of").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("x", "a")))
  }

  test("topNgrams: hand-exact counts, (tf desc, gram asc) tiebreak, df vs tf") {
    val synth = Seq(
      (1L, "a b a b a b"), // "a b" ×3, "b a" ×2
      (2L, "a b c"),       // "a b", "b c"
      (3L, "x y")          // "x y"
    ).toDF("doc_id", "text")
    val got = TextAnalysis.topNgrams(synth, n = 2, topK = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // tf=1 tie between "b c" and "x y" → gram asc picks "b c"
    assert(got == Seq(("a b", 4L, 2L), ("b a", 2L, 1L), ("b c", 1L, 1L)),
      s"got $got")
  }

  test("normalizeDocs: NFC composes, NFKC also folds compatibility chars, ASCII untouched, null-safe, exact dedup unified") {
    // explicit \\uXXXX escapes throughout: source-file normalization
    // must never silently flip which Unicode form a fixture string is in
    val deco = "cafe\u0301"        // decomposed e + COMBINING ACUTE
    val pre = "caf\u00e9"          // precomposed U+00E9, the NFC target
    val compat = "\ufb01le \uff21" // fi ligature + fullwidth A (NFKC-only)
    val synth = Seq(
      (1L, deco),
      (2L, pre),
      (3L, "plain ascii"),
      (4L, compat),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // normalizeDocs preserves all input columns and APPENDS
    // text_norm/changed — select the output shape explicitly
    val nfc = TextAnalysis.normalizeDocs(synth)
      .select("doc_id", "text_norm", "changed").collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), r.getBoolean(2))).toMap
    assert(nfc(1L) == (Some(pre), true), "decomposed must compose")
    assert(nfc(2L) == (Some(pre), false), "precomposed already normal")
    assert(nfc(3L) == (Some("plain ascii"), false))
    assert(nfc(4L) == (Some(compat), false),
      "NFC must NOT fold compatibility characters")
    assert(nfc(5L) == (None, false))
    val nfkc = TextAnalysis.normalizeDocs(synth, form = "NFKC")
      .select("doc_id", "text_norm").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(nfkc(4L) == Some("file A"), "NFKC folds ligature + fullwidth")
    // the point of the pass: both spellings of \u00e9 now exact-dedup
    val fps = TextAnalysis.normalizeDocs(synth)
      .where(col("doc_id") <= 2)
      .select(TextAnalysis.fingerprint(col("text_norm")).as("fp"))
      .distinct().count()
    assert(fps == 1L, "NFC must unify precomposed and decomposed dups")
  }

  test("topTerms: hand-exact tf-idf, ubiquitous term scores 0 and loses, ties break by term, k bound") {
    // doc 1: "apple apple banana shared", doc 2: "cherry shared",
    // doc 3: "date shared" — "shared" in all docs → ln(3/3) = 0
    val synth = Seq(
      (1L, "apple apple banana shared"),
      (2L, "cherry shared"),
      (3L, "date shared")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.topTerms(synth, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val ln3 = BigDecimal(math.log(3.0)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val ln3x2 = BigDecimal(2 * math.log(3.0)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (1L, 1L, "apple", ln3x2),  // tf=2 · ln(3/1)
      (1L, 2L, "banana", ln3),   // tf=1 · ln(3/1)
      (2L, 1L, "cherry", ln3),
      (2L, 2L, "shared", 0.0),   // ln(3/3) = 0: ubiquity scores nothing
      (3L, 1L, "date", ln3),
      (3L, 2L, "shared", 0.0)), s"got $got")
    // equal scores rank by term asc: two fresh singleton terms tie
    val tie = Seq((1L, "zeta alpha"), (2L, "other words here"))
      .toDF("doc_id", "text")
    val r1 = TextAnalysis.topTerms(tie, k = 2).where(col("doc_id") === 1L)
      .orderBy("rank").collect().map(_.getString(2)).toSeq
    assert(r1 == Seq("alpha", "zeta"))
  }

  test("topNgramsSketch ≡ topNgrams when heavies clear the MG bar; partitioning-proof; planted heavies survive tiny budgets") {
    // planted heavies (hundreds of occurrences) over a long distinct
    // tail: with counters=64 the merged-MG bar is N/65 ≈ 26 — the
    // heavies clear it by 10×, the tail never nominates reliably, and
    // the exact recount makes the top-K identical to the exact pass.
    val rows = (0 until 500).map(i => (i.toLong, s"unique$i tail$i filler$i")) ++
      (500 until 800).map(i => (i.toLong, "hot banner text repeated")) ++
      (800 until 950).map(i => (i.toLong, "warm template line here"))
    val synth = rows.toDF("doc_id", "text")
    val exact = TextAnalysis.topNgrams(synth, n = 2, topK = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    for (parts <- Seq(1, 7, 32)) {
      val sk = TextAnalysis
        .topNgramsSketch(synth.repartition(parts), n = 2, topK = 5, counters = 64)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(sk == exact, s"parts=$parts: $sk != $exact")
    }
    // the top rows really are the planted heavies with exact counts
    // (tf=300 tie → gram asc order)
    assert(exact.take(2).map(t => (t._1, t._2)) ==
      Seq(("banner text", 300L), ("hot banner", 300L)))
  }

  test("editDistancePairs: hand-exact similarity, order sensitivity vs Jaccard, maxDist early abandon") {
    val a = "the quick brown fox jumps over the lazy dog today"
    val b = "the quick brown cat jumps over the lazy dog today"      // fox→cat: dist 3
    val c = "today dog lazy the over jumps fox brown quick the"      // a's words reversed
    val d = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    // word order preserved: dist 3 over max(len) → hand-exact sim
    val got = Dedup.editDistancePairs(d, n = 2, tau = 0.9, blockTau = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 2L, 1.0 - 3.0 / math.max(a.length, b.length))),
      s"wrong pairs: $got")
    // the reversed doc shares unigram mass (blocked as a candidate at
    // n=1) but edit distance charges the move — no near-dup verdict
    val rev = Dedup.editDistancePairs(d, n = 1, tau = 0.6, blockTau = 0.1)
      .where(col("b") === 3L).count()
    assert(rev == 0L, "word-reversed doc must fail the edit verify")
    // threshold mode: dist 3 > maxDist 2 → provably-over pairs rejected,
    // generous budget reproduces the exact answer
    assert(Dedup.editDistancePairs(d, n = 2, tau = 0.9, blockTau = 0.1,
      maxDist = Some(2)).count() == 0L)
    val thr = Dedup.editDistancePairs(d, n = 2, tau = 0.9, blockTau = 0.1,
      maxDist = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(thr == got, "a generous maxDist must be invisible in the result")
  }

  test("chunkDocs: hand-exact windows, short tail, zero-overlap partition, empty doc") {
    val words = (0 until 10).map(i => s"w$i")
    val d = Seq((1L, words.mkString(" ")), (2L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocs(d, chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    // starts 0,3,6,9 (step 3), final chunk short
    assert(got == Seq(
      (1L, 0L, "w0 w1 w2 w3", 4L),
      (1L, 1L, "w3 w4 w5 w6", 4L),
      (1L, 2L, "w6 w7 w8 w9", 4L),
      (1L, 3L, "w9", 1L),
      (2L, 0L, "", 1L)), s"wrong chunks: $got")   // empty text = 1 empty token
    // overlap 0 partitions the token stream exactly: chunks reassemble
    // to the original text and token counts sum to the doc's
    val part = TextAnalysis.chunkDocs(d.where(col("doc_id") === 1L),
      chunkTokens = 4, overlap = 0).orderBy("chunk_idx").collect()
    assert(part.map(_.getString(2)).mkString(" ") == words.mkString(" "))
    assert(part.map(_.getLong(3)).sum == 10L)
  }

  test("bm25Scores: hand-exact scores, absent terms zero, ordered == plain") {
    val d = Seq((1L, "cat dog cat"), (2L, "dog mouse"), (3L, "bird"))
      .toDF("doc_id", "text")
    val (k1, b) = (1.2, 0.75)
    val n = 3.0; val avgdl = (3 + 2 + 1) / 3.0
    def idf(df: Double) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def w(tf: Double, dl: Double, df: Double) =
      idf(df) * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    val expect = Map(
      1L -> w(2, 3, 1),          // cat twice in doc 1, nowhere else
      2L -> w(1, 2, 1),          // mouse once in doc 2
      3L -> 0.0)                 // no query term
    for (ordered <- Seq(true, false)) {
      val got = TextAnalysis.bm25Scores(d, Seq("cat", "mouse"), k1, b,
        ordered = ordered).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      expect.foreach { case (id, e) =>
        assert(math.abs(got(id) - e) < 1e-12,
          s"doc $id (ordered=$ordered): ${got(id)} vs $e") }
    }
    // a term in BOTH query and more docs is downweighted by idf: "dog"
    // (df 2) must contribute less than "mouse" (df 1) at equal tf/dl
    val g2 = TextAnalysis.bm25Scores(d, Seq("dog"), k1, b).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(g2(2L) < expect(2L), "higher-df term must score below lower-df")
  }

  test("minhashDuplicates editTau: line-permuted doc convicts under jaccard alone, cleared by the edit verify") {
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    val lines = (0 until 12).map(i =>
      s"${vocab(i)} module parses ${vocab((i + 5) % 12)} records " +
        s"and emits ${vocab((i + 9) % 12)} metrics")
    val a = lines.mkString(" ")
    val bPerm = lines.reverse.mkString(" ")     // every line displaced
    val c = lines.take(11).mkString(" ") +
      " zulu module parses yankee records and emits xray metrics"
    val d = Seq((1L, a), (2L, bPerm), (3L, c)).toDF("doc_id", "text")
    // blocking + jaccard alone keeps the permuted pair: most trigrams
    // live INSIDE lines, so the shingle sets largely coincide
    // (measured jaccard ≈ 0.8, edit sim ≈ 0.74 for the reversal)
    val plain = Dedup.minhashDuplicates(d, n = 3, tau = 0.5, k = 128,
      bands = 64).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.contains((1L, 2L)), s"permuted pair not blocked: $plain")
    // the edit verify charges every moved line — the permuted pair dies,
    // genuinely-near pairs survive with both sims reported
    val ver = Dedup.minhashDuplicates(d, n = 3, tau = 0.5, k = 128,
      bands = 64, editTau = Some(0.85))
    val kept = ver.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!kept.contains((1L, 2L)), "edit verify must drop the permutation")
    assert(kept.contains((1L, 3L)), s"true near-dup must survive: $kept")
    assert(ver.columns.toSeq == Seq("a", "b", "jaccard", "edit_sim"))
  }

  test("linear model persistence: save -> load round-trips, scores identical") {
    val pos = Seq((1L, "alpha beta alpha"), (2L, "alpha gamma")).toDF("doc_id", "text")
    val neg = Seq((3L, "delta epsilon"), (4L, "delta zeta")).toDF("doc_id", "text")
    val m = TextAnalysis.trainLinear(pos, neg, dim = 16, steps = 5, lr = 1.0)
    val path = java.nio.file.Files.createTempDirectory("linmodel").toString + "/m"
    TextAnalysis.saveLinearModel(m, spark, path)
    val m2 = TextAnalysis.loadLinearModel(spark, path)
    assert(m2 == m, s"$m2 vs $m")
    val score = TextAnalysis.scoreLinear(pos, m.weights, m.bias).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val score2 = TextAnalysis.scoreLinear(pos, m2.weights, m2.bias).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(score == score2)
  }

  test("trainLinear: GD mechanics match a pure-Scala mirror over the observed features") {
    val pos = Seq((1L, "alpha beta alpha"), (2L, "alpha gamma")).toDF("doc_id", "text")
    val neg = Seq((3L, "delta epsilon"), (4L, "delta delta zeta")).toDF("doc_id", "text")
    val dim = 8
    // the observed sparse features are ground truth for the mirror —
    // this pins the DESCENT, not the hashing (t10 gates the hashing)
    def feats(df: org.apache.spark.sql.DataFrame, y: Double) =
      TextAnalysis.hashedTf(df, dim).collect()
        .map(r => (y, r.getLong(0), r.getLong(1), r.getDouble(2)))
    val rows = (feats(pos, 1.0) ++ feats(neg, 0.0)).sortBy(t => (t._1, t._2, t._3))
    val n = rows.map(t => (t._1, t._2)).distinct.length.toDouble
    val lr = 0.5
    var ew = Array.fill(dim)(0.0); var eb = 0.0
    for (_ <- 0 until 2) {
      // per-doc residuals, then gradient folded in (y, doc_id) order —
      // the ordered trainer's exact arithmetic
      val g = rows.groupBy(t => (t._1, t._2)).view.mapValues { fs =>
        val z = fs.sortBy(_._3).foldLeft(0.0)((a, f) => a + f._4 * ew(f._3.toInt))
        1.0 / (1.0 + math.exp(-(z + eb))) - fs.head._1
      }.toMap
      val grads = Array.fill(dim)(0.0)
      rows.foreach(t => grads(t._3.toInt) += g((t._1, t._2)) * t._4)
      val gb = rows.map(t => (t._1, t._2)).distinct.sorted
        .foldLeft(0.0)((a, k) => a + g(k))
      ew = Array.tabulate(dim)(i => ew(i) - lr * grads(i) / n)
      eb = eb - lr * gb / n
    }
    for (ordered <- Seq(true, false)) {
      val m = TextAnalysis.trainLinear(pos, neg, dim, steps = 2, lr = lr,
        ordered = ordered)
      assert(m.docs == 4L)
      assert(math.abs(m.bias - eb) < 1e-12, s"bias (ordered=$ordered): ${m.bias} vs $eb")
      m.weights.indices.foreach(i =>
        assert(math.abs(m.weights(i) - ew(i)) < 1e-12,
          s"w($i) (ordered=$ordered): ${m.weights(i)} vs ${ew(i)}"))
    }
  }

  test("trainLinear: plain and ordered agree, trained model separates planted classes, featureless docs excluded") {
    val wordsA = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val wordsB = Seq("omega", "psi", "chi", "phi", "upsilon")
    def mk(ids: Range, ws: Seq[String]) = ids.map { i =>
      (i.toLong, (0 until 6).map(j => ws((i + j) % ws.length)).mkString(" "))
    }
    val pos = (mk(0 until 40, wordsA) :+ (999L, "")).toDF("doc_id", "text")
    val neg = mk(100 until 140, wordsB).toDF("doc_id", "text")
    val mp = TextAnalysis.trainLinear(pos, neg, dim = 16, steps = 25, lr = 2.0)
    val mo = TextAnalysis.trainLinear(pos, neg, dim = 16, steps = 25, lr = 2.0,
      ordered = true)
    // the empty-text positive carries no features: excluded from n
    assert(mp.docs == 80L)
    (mo.weights :+ mo.bias).zip(mp.weights :+ mp.bias).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
        s"ordered vs plain drifted: $a vs $b") }
    val scored = TextAnalysis.scoreLinear(
      (mk(0 until 40, wordsA) ++ mk(100 until 140, wordsB)).toDF("doc_id", "text"),
      mp.weights, mp.bias).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val (p, q) = scored.partition(_._1 < 100L)
    assert(p.map(_._2).min > q.map(_._2).max,
      "trained classifier must separate the planted vocab classes")
    // a featureless doc scores sigmoid(bias) — and the logit twin gives
    // exactly the bias
    val z0 = TextAnalysis.linearLogits(Seq((7L, "")).toDF("doc_id", "text"),
      mp.weights, mp.bias, ordered = true).head.getDouble(1)
    assert(z0 == mp.bias)
  }
}
