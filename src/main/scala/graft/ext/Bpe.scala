package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction and encoding as distributed
  * operators (Sennrich, Haddow & Birch 2016, "Neural Machine Translation
  * of Rare Words with Subword Units" — the textbook BPE trainer; the
  * pre-tokenizer is the GPT-2-style segmenter already used by
  * `TextAnalysis.bpeTokenCount`).
  *
  * Scale shape: training never iterates over the corpus. ONE scan + ONE
  * shuffle folds the corpus into the pre-token frequency dictionary (the
  * data-sized step); everything after runs over that dictionary alone,
  * whose size is the number of DISTINCT pre-tokens — vocabulary-bounded,
  * orders of magnitude below corpus size at 100 TB. The distributed merge
  * loop is ROUND-based: one top-K collect of the maintained pair-count
  * table yields a whole BATCH of merges (the provably-sequential prefix,
  * see [[selectBatch]]), the batch applies in one pass over only the
  * words containing a picked pair, and the pair table updates by delta —
  * per-round shuffle is bounded by the perturbed mass, never the
  * dictionary re-exploded (BpeScale probe at 4eef7ee, tables in
  * TOKENIZER.md). Exact-sequential batching is width-limited by symbol
  * collisions in the head of the pair distribution (frequent subwords
  * share letters — measured ≈1.3 merges/round on a Zipfian corpus);
  * `wide = true` trades the sequential-equivalence guarantee for
  * maxBatch-wide rounds by SKIPPING interacting candidates instead of
  * stopping at the first one — the parallel-BPE formulation (each round
  * merges the top mutually-non-interacting pairs under the same
  * tiebreak), the production mode for 30–50k-deep vocabularies, applied
  * identically by both paths so wide-distributed ≡ wide-in-memory holds
  * bit-for-bit even though wide ≢ sequential. Like
  * `Dedup.connectedComponents`, the loop is scale-adaptive: a dictionary
  * within `driverThreshold` rows is collected once and trained in memory
  * (the GPT-2 regime — a multi-TB corpus's word dictionary is megabytes),
  * while larger dictionaries run the distributed loop (forced in tests
  * via driverThreshold = 0). Both paths implement the identical algorithm
  * with the identical deterministic tiebreak (count desc, then pair
  * lexicographic), so they produce identical merge tables.
  *
  * Encoding a corpus with a trained vocabulary is a lookup join: each
  * distinct pre-token is encoded ONCE (the dictionary's final symbol
  * sequences ARE the encoded forms), and per-document token counts reduce
  * to explode → equi-join on the vocabulary-sized dictionary (AQE
  * broadcasts it when small) → sum. No per-document merge work at read
  * time.
  *
  * Symbols here are Unicode BMP code units (the synthetic corpus is
  * ASCII); Spark/Java, DuckDB, and the in-memory path all agree on both
  * splitting and lexicographic order in that range.
  */
object Bpe {

  /** Pre-token frequency dictionary: (tok, f, syms) with syms the initial
    * character-level symbol sequence. One corpus scan, one shuffle;
    * everything downstream of this is vocabulary-sized.
    */
  def wordDict(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(regexp_extract_all(col(textCol),
        lit(TextAnalysis.BpeRe), lit(0))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .withColumn("syms", split(col("tok"), ""))

  /** Adjacent (a, b) symbol pairs of a symbol-array column, as a struct
    * array. zip_with over shifted slices (no sequence(1, 0) descending-
    * range trap on single-symbol tokens).
    */
  private def symPairs(syms: Column): Column = {
    val n = size(syms)
    zip_with(
      slice(syms, lit(1), greatest(n - 1, lit(0))),
      slice(syms, lit(2), greatest(n - 1, lit(0))),
      (a, b) => struct(a.as("a"), b.as("b")))
  }

  /** Adjacent-pair counts over a symbol dictionary, weighted by pre-token
    * frequency — the BPE training objective. The aggregate is map-side
    * combinable, keyed on the pair.
    */
  def pairCounts(dict: DataFrame): DataFrame =
    // Generate re-evaluates the zip_with per output row (the s03 lesson),
    // but here the child array is one pre-token's symbol list: the re-eval
    // is O(word-length²) on a DICTIONARY-sized input — bounded by natural
    // word length, not data size, so the explode-raw rewrite isn't worth
    // its shuffle.
    dict
      .select(col("f"), explode(symPairs(col("syms"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("f").as("cnt"))

  /** True iff the symbol array contains any of `picks` as an adjacent
    * pair — the affected-word predicate of the incremental trainers. A
    * pure Column (codegen'd map-side filter): the unaffected mass of the
    * dictionary is never shuffled, re-encoded, or re-counted.
    */
  private def containsAnyPair(syms: Column, picks: Seq[(String, String)]): Column =
    exists(symPairs(syms), p =>
      picks.map { case (a, b) =>
        p.getField("a") === lit(a) && p.getField("b") === lit(b)
      }.reduce(_ || _))

  /** One merge applied to a symbol-array column: greedy left-to-right
    * non-overlapping replacement of adjacent (a, b) with a+b — the
    * textbook merge, spelled as a codegen'd array fold (try_element_at
    * keeps the empty-accumulator probe ANSI-safe).
    */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** A learned vocabulary: rank-ordered merges (a, b, count-at-merge-time)
    * plus the training dictionary in its final encoded form
    * (tok, f, syms).
    */
  final case class TrainedBpe(merges: Seq[(String, String, Long)], dict: DataFrame)

  /** Learn `numMerges` merges from the corpus. Stops early when no pair
    * reaches `minCount`. See the object doc for the scale shape; set
    * `driverThreshold = 0` to force the distributed loop.
    *
    * The distributed loop is round-based, not job-per-merge: each round
    * collects the pair table's top `topK` rows once, selects a BATCH of
    * merges from it on the driver (the longest prefix, in (cnt desc, a,
    * b) order, that is mutually non-interacting and strictly out-counts
    * every pair it could perturb — see [[selectBatch]] for why that is
    * exactly the sequential argmax sequence), applies the whole batch in
    * one pass over the words that actually contain a picked pair, and
    * maintains the pair-count table by DELTA (− affected-word pairs
    * before, + after). Total jobs ≈ rounds (the top-K collect
    * materializes the lazily-checkpointed pair table), and per-round
    * shuffle is bounded by the affected words plus the
    * (vocabulary-sized) pair table — never the full dictionary
    * re-exploded.
    *
    * `wide = true` switches BOTH paths to parallel-BPE batching (skip
    * interacting candidates rather than stop — see the object doc):
    * rounds ≈ merges / maxBatch, the deep-vocabulary production mode.
    * The merge table differs from sequential BPE's (measured overlap in
    * TOKENIZER.md); leave it false where reference-exact merges matter.
    */
  def train(docs: DataFrame,
            numMerges: Int,
            textCol: String = "text",
            minCount: Long = 2L,
            driverThreshold: Long = 2000000L,
            checkpointEvery: Int = 5,
            topK: Int = 256,
            maxBatch: Int = 64,
            wide: Boolean = false): TrainedBpe = {
    var dict = wordDict(docs, textCol).localCheckpoint()
    if (dict.count() <= driverThreshold)
      return trainInMemory(dict, numMerges, minCount, wide, topK, maxBatch)
    // LAZY local checkpoint: the round's top-K collect is the action
    // that materializes the delta-maintained table, so a round costs
    // ~one job instead of two (eager checkpoint + collect)
    var pc = pairCounts(dict).localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    var round = 0
    while (merges.length < numMerges && !done) {
      val top = pc.orderBy(desc("cnt"), col("a"), col("b")).limit(topK).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty || top(0)._3 < minCount) done = true
      else {
        val picks = selectBatch(top, topK, minCount,
          math.min(numMerges - merges.length, maxBatch), wide)
        merges ++= picks
        val pairList = picks.map(p => (p._1, p._2))
        val isAff = containsAnyPair(col("syms"), pairList)
        val aff = dict.where(isAff)
        val merged = applyMergesRows(aff, pairList)
        // delta maintenance: only affected words change any pair count.
        // pc materializes at the NEXT round's top-K collect (lazy
        // checkpoint — the argmax needs it flat, and that read is the
        // round's one job)
        pc = pc
          .unionByName(pairCounts(merged))
          .unionByName(pairCounts(aff).withColumn("cnt", -col("cnt")))
          .groupBy("a", "b").agg(sum("cnt").as("cnt"))
          .where(col("cnt") > 0)
          .localCheckpoint(false)
        // the dict advances as ONE full map (identity on words without a
        // picked pair) — NOT filter(!aff) ∪ merged, whose two branches
        // both scan dict and so double the lineage every round (2^k
        // redundant scans between checkpoints, measured as a blowup).
        // The affected-filter exists only to keep the DELTA small.
        dict = applyMergesRows(dict, pairList)
        round += 1
        if (round % checkpointEvery == 0) dict = dict.localCheckpoint()
      }
    }
    TrainedBpe(merges.toSeq, dict.localCheckpoint())
  }

  /** Select the longest batch of merges from a sorted pair-count prefix
    * that is EXACTLY the sequence the one-merge-at-a-time argmax would
    * produce. Soundness: merging (a, b) → ab only perturbs pairs whose
    * symbols intersect {a, b, ab} — counts of such pairs can only
    * decrease, and every CREATED pair (x, ab) / (ab, y) inherits a count
    * bounded by an existing pair sharing a symbol with the pick. So a
    * later candidate is still the true argmax as long as (1) it shares
    * no symbol with any earlier pick (its own count is untouched) and
    * (2) its count strictly exceeds every pair that any earlier pick
    * could have perturbed or spawned. Both are enforced by scanning the
    * sorted prefix: the first candidate that interacts with the picked
    * symbol set — or the sorted tail beyond what was collected — gives
    * the bound `boundCnt`; picks after the first are kept only while
    * strictly above it (a tie could be lost to a freshly created pair's
    * lexicographic rank, so ties stop the batch).
    */
  private def selectBatch(top: Array[(String, String, Long)], topK: Int,
                          minCount: Long, want: Int,
                          wide: Boolean = false): Seq[(String, String, Long)] = {
    val picks = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val pickedSyms = scala.collection.mutable.Set.empty[String]
    if (wide) {
      // WIDE batching (see [[train]]): SKIP interacting candidates
      // instead of stopping at the first one — the batch is the
      // mutually-non-interacting subset of the tiebreak-ordered topK
      // prefix, a deterministic function of the pair table shared
      // verbatim by the in-memory trainer. Skipped candidates stay in
      // the table and compete again next round at their post-batch
      // counts.
      var i = 0
      while (i < top.length && picks.length < want) {
        val (a, b, c) = top(i)
        if (c >= minCount && !pickedSyms.contains(a) &&
            !pickedSyms.contains(b) && !pickedSyms.contains(a + b)) {
          picks += top(i)
          pickedSyms += a; pickedSyms += b; pickedSyms += (a + b)
        }
        i += 1
      }
      return picks.toSeq
    }
    // highest count among candidates NOT picked (perturbable mass bound);
    // -1 = nothing outside the batch can be perturbed
    var boundCnt = -1L
    var i = 0
    var stopped = false
    while (i < top.length && !stopped && picks.length < want) {
      val (a, b, c) = top(i)
      if (c < minCount) stopped = true
      else if (pickedSyms.contains(a) || pickedSyms.contains(b)) {
        boundCnt = c; stopped = true
      } else {
        picks += top(i)
        pickedSyms += a; pickedSyms += b; pickedSyms += (a + b)
        i += 1
      }
    }
    // candidates never scanned (want/maxBatch cutoff, or pairs beyond the
    // collected topK) could interact — bound by the best unscanned count
    if (!stopped && i < top.length) boundCnt = math.max(boundCnt, top(i)._3)
    if (!stopped && top.length == topK)
      boundCnt = math.max(boundCnt, top.last._3)
    picks.head +: picks.tail.takeWhile(_._3 > boundCnt).toSeq
  }

  /** Apply a rank-ordered batch of merges imperatively (the exact
    * in-memory greedy loop) to a (tok, f, syms) frame — one typed
    * mapPartitions pass instead of `picks.length` nested fold columns.
    * Picks are mutually non-interacting, so per-word application order
    * cannot matter; rank order is kept anyway for strict equivalence.
    */
  private def applyMergesRows(df: DataFrame,
                              picks: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("tok", "f", "syms").as[(String, Long, Seq[String])]
      .mapPartitions(_.map { case (tok, f, s0) =>
        val s = scala.collection.mutable.ArrayBuffer(s0: _*)
        picks.foreach { case (a, b) =>
          val ab = a + b
          var i = 0
          while (i < s.length - 1) {
            if (s(i) == a && s(i + 1) == b) { s.remove(i + 1); s(i) = ab }
            i += 1
          }
        }
        (tok, f, s.toSeq)
      })
      .toDF("tok", "f", "syms")
  }

  /** In-memory trainer over a collected dictionary — identical algorithm
    * and tiebreak as the distributed loop, used below `driverThreshold`
    * (union-find precedent: driver work bounded by the threshold, never
    * by corpus size).
    */
  private def trainInMemory(dictDf: DataFrame, numMerges: Int,
                            minCount: Long, wide: Boolean = false,
                            topK: Int = 256, maxBatch: Int = 64): TrainedBpe = {
    val spark = dictDf.sparkSession
    val rows = dictDf.select("tok", "f").collect()
    val toks = rows.map(_.getString(0))
    val fs = rows.map(_.getLong(1))
    val syms = toks.map(t => scala.collection.mutable.ArrayBuffer(
      t.split("").toSeq: _*))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (merges.length < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var w = 0
      while (w < syms.length) {
        val s = syms(w); val f = fs(w); var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
        w += 1
      }
      if (counts.isEmpty) done = true
      else if (wide) {
        // the distributed wide round, replayed bit-for-bit: tiebreak-
        // sort, truncate to the SAME topK window, select the same
        // non-interacting batch, apply in rank order
        val top = counts.toArray
          .map { case ((a, b), c) => (a, b, c) }
          .sortBy { case (a, b, c) => (-c, a, b) }
          .take(topK)
        val picks = selectBatch(top, topK, minCount,
          math.min(numMerges - merges.length, maxBatch), wide = true)
        if (picks.isEmpty) done = true
        else {
          merges ++= picks
          var w2 = 0
          while (w2 < syms.length) {
            val s = syms(w2)
            picks.foreach { case (a, b, _) =>
              val ab = a + b
              var i = 0
              while (i < s.length - 1) {
                if (s(i) == a && s(i + 1) == b) { s.remove(i + 1); s(i) = ab }
                i += 1
              }
            }
            w2 += 1
          }
        }
      } else {
        // tiebreak identical to the distributed orderBy: cnt desc, a, b
        val ((a, b), c) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        if (c < minCount) done = true
        else {
          merges += ((a, b, c))
          val ab = a + b
          var w2 = 0
          while (w2 < syms.length) {
            val s = syms(w2); var i = 0
            while (i < s.length - 1) {
              if (s(i) == a && s(i + 1) == b) { s.remove(i + 1); s(i) = ab }
              i += 1 // advancing past the merged symbol = non-overlapping greedy
            }
            w2 += 1
          }
        }
      }
    }
    import spark.implicits._
    val enc = toks.indices.map(i => (toks(i), fs(i), syms(i).toSeq))
    TrainedBpe(merges.toSeq,
      spark.createDataset(enc).toDF("tok", "f", "syms"))
  }

  /** Persist a trained vocabulary as parquet artifacts — the ANN
    * index-persistence precedent (train once, encode many, across
    * sessions): the rank-ordered merge table and the encoded
    * dictionary. A tokenization service needs only these two tables.
    */
  def saveVocab(trained: TrainedBpe, path: String): Unit = {
    val spark = trained.dict.sparkSession
    import spark.implicits._
    trained.merges.zipWithIndex
      .map { case ((a, b, c), r) => (r, a, b, c) }
      .toDF("rank", "a", "b", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    trained.dict.write.mode("overwrite").parquet(s"$path/dict")
  }

  /** Load a persisted vocabulary. The merge table is vocabulary-sized —
    * the one-row-per-merge collect is bounded by the trained depth.
    */
  def loadVocab(spark: org.apache.spark.sql.SparkSession, path: String): TrainedBpe = {
    val merges = spark.read.parquet(s"$path/merges")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    TrainedBpe(merges, spark.read.parquet(s"$path/dict"))
  }

  /** Encode pre-tokens ABSENT from a trained dictionary by replaying the
    * merge table over their symbol arrays — the train-on-A / encode-B
    * path. Input is a distinct `tok` column; the loop is vocabulary-
    * sized (one fold per merge, lineage cut every `checkpointEvery`).
    */
  def encodeToks(toks: DataFrame, merges: Seq[(String, String, Long)],
                 checkpointEvery: Int = 8): DataFrame = {
    var d = toks.select("tok").distinct()
      .withColumn("syms", split(col("tok"), ""))
    merges.zipWithIndex.foreach { case ((a, b, _), i) =>
      d = d.withColumn("syms", applyMerge(col("syms"), a, b))
      if ((i + 1) % checkpointEvery == 0) d = d.localCheckpoint()
    }
    d
  }

  /** Production WordPiece ENCODING (Wu 2016 §4.1): greedy longest-
    * match-first against a final vocabulary — at each position take the
    * longest vocab piece prefixing the remainder; if some position has
    * no match at all, the whole pre-token maps to `unk` (BERT's rule).
    * This is deliberately different from replaying merges: greedy
    * longest-match can pick pieces no merge sequence would produce.
    */
  def wordPieceEncode(tok: String, vocab: Set[String], maxPieceLen: Int,
                      unk: String = "[UNK]"): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var p = 0
    while (p < tok.length) {
      var l = math.min(maxPieceLen, tok.length - p)
      var hit: String = null
      while (l >= 1 && hit == null) {
        val cand = tok.substring(p, p + l)
        if (vocab.contains(cand)) hit = cand
        l -= 1
      }
      if (hit == null) return List(unk)
      out += hit
      p += hit.length
    }
    out.toList
  }

  /** Per-document token counts under greedy WordPiece encoding of a
    * trained vocabulary (final dictionary symbols): each DISTINCT
    * pre-token encodes once on executors against the broadcast vocab
    * (vocabulary-sized both sides), then the usual join+sum.
    */
  def greedyTokenCounts(docs: DataFrame, trained: TrainedBpe,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        unk: String = "[UNK]"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = trained.dict.select(explode(col("syms"))).distinct()
      .as[String].collect().toSet
    val maxLen = if (vocab.isEmpty) 1 else vocab.map(_.length).max
    val bc = spark.sparkContext.broadcast(vocab)
    val toks = docs.select(col(idCol),
      explode(regexp_extract_all(col(textCol),
        lit(TextAnalysis.BpeRe), lit(0))).as("tok"))
    val enc = toks.select("tok").distinct().as[String]
      .map(t => (t, wordPieceEncode(t, bc.value, maxLen, unk).length))
      .toDF("tok", "n")
    toks.join(enc, "tok")
      .groupBy(idCol).agg(sum("n").as("n_tok"))
  }

  /** Per-document token counts for an ARBITRARY corpus under a trained
    * vocabulary: pre-tokens found in the trained dictionary reuse its
    * encoded forms; unseen pre-tokens (cross-corpus encode) replay the
    * merge table once per DISTINCT miss via [[encodeToks]]. Both sides
    * stay vocabulary-sized; the per-document work is the same
    * explode → join → sum as [[tokenCounts]].
    */
  def tokenCountsCross(docs: DataFrame, trained: TrainedBpe,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(regexp_extract_all(col(textCol),
        lit(TextAnalysis.BpeRe), lit(0))).as("tok"))
    val known = trained.dict.select(col("tok"), size(col("syms")).as("n"))
    val unseen = toks.select("tok").distinct()
      .join(trained.dict.select("tok"), Seq("tok"), "left_anti")
    val encUnseen = encodeToks(unseen, trained.merges)
      .select(col("tok"), size(col("syms")).as("n"))
    toks.join(known.unionByName(encUnseen), "tok")
      .groupBy(idCol).agg(sum("n").as("n_tok"))
  }

  /** Per-symbol occurrence counts over a dictionary (weighted by
    * pre-token frequency) — the denominators of WordPiece's likelihood
    * objective. Vocabulary-sized, map-combinable.
    */
  def symCounts(dict: DataFrame): DataFrame =
    dict.select(col("f"), explode(col("syms")).as("sym"))
      .groupBy("sym").agg(sum("f").as("scnt"))

  /** WordPiece training (Schuster & Nakajima 2012 / Wu 2016 §4.1): the
    * SAME merge loop as [[train]] but with the likelihood-ratio
    * objective — merge the pair maximizing cnt(ab) / (cnt(a)·cnt(b)),
    * i.e. the pair whose merge most improves corpus likelihood under a
    * unigram model, instead of raw count. Identical scale shape
    * (dictionary-sized iterations, scale-adaptive driver path, same
    * deterministic (score desc, a, b) tiebreak both paths — the ratio
    * is one IEEE division of exact integers, bit-identical on any
    * engine). Encoding is [[tokenCounts]] unchanged.
    */
  def trainWordPiece(docs: DataFrame,
                     numMerges: Int,
                     textCol: String = "text",
                     minCount: Long = 2L,
                     driverThreshold: Long = 2000000L,
                     checkpointEvery: Int = 5): TrainedBpe = {
    var dict = wordDict(docs, textCol).localCheckpoint()
    if (dict.count() <= driverThreshold)
      return trainWordPieceInMemory(dict, numMerges, minCount)
    // merge-at-a-time is INHERENT to the ratio objective: merging (a, b)
    // shrinks c_a and c_b, so scores of pairs sharing those symbols can
    // INCREASE, and a created pair (x, ab) scores against the brand-new
    // (small) c_ab — no count bound makes a second pick from the same
    // snapshot sound, unlike [[train]]'s monotone-count batching. What
    // CAN scale is the per-merge cost: the pair and symbol tables are
    // maintained by delta over affected words only, so each step shuffles
    // the perturbed mass, never the re-exploded dictionary.
    var pc = pairCounts(dict).localCheckpoint()
    var sc = symCounts(dict).localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var step = 0
    var done = false
    while (step < numMerges && !done) {
      val best = pc
        .join(sc.select(col("sym").as("a"), col("scnt").as("ca")), "a")
        .join(sc.select(col("sym").as("b"), col("scnt").as("cb")), "b")
        // ca·cb multiplies as DOUBLES (matching trainWordPieceInMemory):
        // a Long product overflows Int64 at corpus scale and silently
        // wraps (non-ANSI), picking wrong merges and breaking the
        // bit-identical-paths guarantee
        .withColumn("score",
          col("cnt").cast("double") /
            (col("ca").cast("double") * col("cb").cast("double")))
        .orderBy(desc("score"), col("a"), col("b")).limit(1)
        .select("a", "b", "cnt").collect()
      if (best.isEmpty || best(0).getLong(2) < minCount) done = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((a, b, c))
        val isAff = containsAnyPair(col("syms"), Seq((a, b)))
        val aff = dict.where(isAff)
        val merged = applyMergesRows(aff, Seq((a, b)))
        pc = pc
          .unionByName(pairCounts(merged))
          .unionByName(pairCounts(aff).withColumn("cnt", -col("cnt")))
          .groupBy("a", "b").agg(sum("cnt").as("cnt"))
          .where(col("cnt") > 0)
          .localCheckpoint()
        sc = sc
          .unionByName(symCounts(merged))
          .unionByName(symCounts(aff).withColumn("scnt", -col("scnt")))
          .groupBy("sym").agg(sum("scnt").as("scnt"))
          .where(col("scnt") > 0)
          .localCheckpoint()
        // single full-map advance, not filter ∪ merged — see train's
        // lineage-doubling note
        dict = applyMergesRows(dict, Seq((a, b)))
        step += 1
        if (step % checkpointEvery == 0) dict = dict.localCheckpoint()
      }
    }
    TrainedBpe(merges.toSeq, dict.localCheckpoint())
  }

  private def trainWordPieceInMemory(dictDf: DataFrame, numMerges: Int,
                                     minCount: Long): TrainedBpe = {
    val spark = dictDf.sparkSession
    val rows = dictDf.select("tok", "f").collect()
    val toks = rows.map(_.getString(0))
    val fs = rows.map(_.getLong(1))
    val syms = toks.map(t => scala.collection.mutable.ArrayBuffer(
      t.split("").toSeq: _*))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (merges.length < numMerges && !done) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      val sc = scala.collection.mutable.HashMap.empty[String, Long]
      var w = 0
      while (w < syms.length) {
        val s = syms(w); val f = fs(w); var i = 0
        while (i < s.length) {
          sc(s(i)) = sc.getOrElse(s(i), 0L) + f
          if (i < s.length - 1) {
            val k = (s(i), s(i + 1))
            pc(k) = pc.getOrElse(k, 0L) + f
          }
          i += 1
        }
        w += 1
      }
      if (pc.isEmpty) done = true
      else {
        // exact integer ratio compared as IEEE doubles — identical to
        // the distributed orderBy; ties broken (a, b) ascending
        val ((a, b), c) = pc.minBy { case ((a, b), c) =>
          (-(c.toDouble / (sc(a).toDouble * sc(b).toDouble)), a, b)
        }
        if (c < minCount) done = true
        else {
          merges += ((a, b, c))
          val ab = a + b
          var w2 = 0
          while (w2 < syms.length) {
            val s = syms(w2); var i = 0
            while (i < s.length - 1) {
              if (s(i) == a && s(i + 1) == b) { s.remove(i + 1); s(i) = ab }
              i += 1
            }
            w2 += 1
          }
        }
      }
    }
    import spark.implicits._
    val enc = toks.indices.map(i => (toks(i), fs(i), syms(i).toSeq))
    TrainedBpe(merges.toSeq,
      spark.createDataset(enc).toDF("tok", "f", "syms"))
  }

  /** Per-document token counts under a trained vocabulary: explode the
    * document pre-tokens, equi-join the encoded dictionary (each distinct
    * pre-token encoded once; AQE broadcasts the dictionary when small),
    * sum symbol counts. Documents whose text yields no pre-tokens drop
    * (explode semantics, mirrored by the oracle's unnest).
    */
  def tokenCounts(docs: DataFrame, trained: TrainedBpe,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(regexp_extract_all(col(textCol),
        lit(TextAnalysis.BpeRe), lit(0))).as("tok"))
    val enc = trained.dict.select(col("tok"), size(col("syms")).as("n"))
    toks.join(enc, "tok")
      .groupBy(idCol).agg(sum("n").as("n_tok"))
  }
}
