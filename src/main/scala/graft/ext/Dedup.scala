package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Debug, Frames}

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine. All scale-first designs:
  *
  *   - exact dedup is one hash-groupBy (single shuffle, map-side combine);
  *   - candidate generation is always BLOCKED (shingle / band / bucket
  *     equi-joins) — never an O(n²) cross join;
  *   - verification (exact Jaccard / cosine) runs only on candidates.
  */
object Dedup {

  // The SPAN family ([[charGramRuns]] / [[exactifyRuns]] /
  // [[removeSharedSpansGlobal]] / [[exciseIntervals]]) attributes its
  // stages to the graft.ops.Debug stage ledger: `candidates` (gram join
  // + diagonal-run window), `exactify` (the filter-verify char-compare
  // loop), `closure` (interval graph build + connected components +
  // keeper election), `splice` (interval union + complement +
  // reassembly), `reduce` (per-pair max aggregation of runs).

  // ---- exact ----------------------------------------------------------

  /** Exact duplicate groups by canonical-content fingerprint: one row per
    * distinct content, keeper = min id. At 100 TB: single shuffle on the
    * 128-bit fingerprint; partial aggregation collapses uniques map-side.
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n"))

  /** [[exactGroups]] with a priority keeper — production dedup keeps the
    * copy from the most trusted source (curated > crawl: RedPajama,
    * Dolma and FineWeb all dedup cross-source with a source-preference
    * rule), not the smallest id. Keeper = the (priority, id)-minimum of
    * each fingerprint group: lower `prioCol` wins, id breaks ties (so
    * equal-priority groups reproduce [[exactGroups]] exactly). Same
    * single shuffle — `min_by` over a struct is still a map-side
    * partial aggregate, so the 100 TB shape is unchanged.
    *
    * Priorities are compared as doubles (fractional rankings keep
    * their order), and a NULL / unparseable priority LOSES the
    * election rather than winning it — a raw `struct` min would sort
    * the null first and silently elect exactly the doc whose priority
    * failed to parse.
    */
  def exactGroupsPriority(docs: DataFrame, prioCol: String,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    docs
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol),
        prioRank(col(prioCol)).as("__prio"))
      .groupBy("fp")
      .agg(min_by(col(idCol), struct(col("__prio"), col(idCol))).as("keeper"),
        count(lit(1)).as("n"))

  /** A priority as the keeper elections compare it: a double, lower
    * wins, and a NULL / unparseable priority ranks last — the one
    * spelling of "a missing priority loses" that every election and the
    * indexes' stored priority tables share.
    */
  def prioRank(prio: Column): Column =
    coalesce(prio.cast("double"), lit(Double.MaxValue))

  // ---- word n-gram shingles ------------------------------------------

  /** Distinct word n-gram shingles per document: (id, shingle).
    * Built with split + sequence/slice — whole-stage codegen, no UDF.
    *
    * Shape matters: Generate re-evaluates its (collapsed) child
    * projection per OUTPUT row, so exploding an array built by a
    * per-document transform lambda costs O(words²) per doc. Instead the
    * CHEAP start-position sequence is exploded and each shingle is
    * assembled per exploded row — O(words·n) total — with a distinct()
    * replacing the old pre-explode array_distinct.
    */
  def shingles(docs: DataFrame, n: Int = 3,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("ws"))
      // size-n+1 n-grams at 1-based starts 1..size-n+1; none when too short
      .select(col("id"), col("ws"),
        explode(expr(s"CASE WHEN size(ws) >= $n THEN sequence(1, size(ws) - ${n - 1}) " +
          "ELSE array() END")).as("i"))
      .select(col("id"), expr(s"concat_ws(' ', slice(ws, i, $n))").as("shingle"))
      .distinct()

  /** The shingle DICTIONARY: each shingle instance keyed by its 64-bit
    * xxhash64 — every downstream shuffle (frequency-cap window, candidate
    * self-join, intersection count) moves and compares 8-byte longs
    * instead of ~n-word strings. Collisions merge two shingle identities:
    * probability ~v²/2⁶⁵ over a v-shingle vocabulary (≈3·10⁻⁴ even at
    * v=10⁹), and a merge only perturbs counts for pairs already sharing a
    * blocked partition — callers needing exactness beyond that keep the
    * string table from [[shingles]].
    */
  def hashShingles(sh: DataFrame): DataFrame =
    sh.select(col("id"), xxhash64(col("shingle")).as("h"))

  /** Exact n-gram Jaccard duplicate pairs (a < b, jaccard >= tau).
    * Blocking: pairs must share ≥1 shingle, so the candidate join is an
    * equi-join on the shingle key — skew-safe for normal text; a
    * stopword-like shingle exploding the join is capped by
    * `maxShingleFreq` (drop shingles appearing in more than that many
    * docs: they generate candidates that exact verification would reject
    * anyway — standard frequency-cap blocking).
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                   maxShingleFreq: Long = 1000,
                   idCol: String = "doc_id", textCol: String = "text",
                   shingled: Option[DataFrame] = None): DataFrame =
    shingleIntersections(docs, n, maxShingleFreq, idCol, textCol, shingled)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= tau)
      .select(col("a"), col("b"), col("jaccard"))

  /** Exact n-gram CONTAINMENT duplicate pairs (a < b, containment >=
    * tau): containment = |S_a ∩ S_b| / min(|S_a|, |S_b|) — Broder's
    * containment coefficient (Broder 1997, "On the resemblance and
    * containment of documents"), the asymmetric near-dup signal Jaccard
    * structurally underweights. A short document quoted whole inside a
    * long one has Jaccard ≈ |short|/|long| (the union is dominated by
    * the long doc — a 1 KB post inside a 100 KB page scores 0.01, below
    * any useful tau) but containment 1.0; subsumption dedup, quote
    * mining, and template detection all want this denominator.
    *
    * Same blocked candidate generation as [[jaccardPairs]] — shared
    * shingle dictionary, frequency-cap window whose exchange the
    * self-join reuses, intersection counted only on blocked pairs —
    * only the verification ratio changes, so the 100 TB shape is
    * identical: no cross join, one shuffle keyed by shingle hash, one
    * by pair.
    */
  def containmentPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.8,
                       maxShingleFreq: Long = 1000,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingled: Option[DataFrame] = None): DataFrame =
    shingleIntersections(docs, n, maxShingleFreq, idCol, textCol, shingled)
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")).cast("double"))
      .where(col("containment") >= tau)
      .select(col("a"), col("b"), col("containment"))

  /** Edit-distance-verified near-dup pairs (a < b, sim >= tau) where
    * sim = 1 − levenshtein(text_a, text_b) / max(len_a, len_b) — the
    * normalized-edit-similarity verify used by code-corpus dedup
    * pipelines (set-based signals like Jaccard are blind to ORDER:
    * permuting a file's lines preserves its shingle multiset almost
    * entirely but is a real content change; edit distance charges every
    * move). Levenshtein is O(len_a × len_b) per pair, so it can never
    * run on raw candidates at scale — candidates are the same
    * frequency-capped shingle blocking as [[jaccardPairs]], pre-filtered
    * to `blockTau` Jaccard, and only that bounded pair stream pays the
    * quadratic verify (one broadcast-ish join back to the text table per
    * side; texts travel only to surviving candidates, never through the
    * shingle shuffle). `maxDist` (optional) additionally bounds each
    * verify at O(min_len × maxDist) via early abandon — the banded-DP
    * standard — rejecting pairs whose distance provably exceeds it,
    * for corpora whose near-dup policy fixes an absolute edit budget.
    */
  def editDistancePairs(docs: DataFrame, n: Int = 3, tau: Double = 0.8,
                        blockTau: Double = 0.2, maxShingleFreq: Long = 1000,
                        maxDist: Option[Int] = None,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingled: Option[DataFrame] = None): DataFrame = {
    val cand = shingleIntersections(docs, n, maxShingleFreq, idCol, textCol, shingled)
      .where(col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")).cast("double") >= blockTau)
      .select("a", "b")
    val txt = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    val dist = maxDist match {
      case Some(d) => levenshtein(col("ta"), col("tb"), d)
      case None    => levenshtein(col("ta"), col("tb"))
    }
    cand
      .join(txt.select(col("id").as("a"), col("t").as("ta")), "a")
      .join(txt.select(col("id").as("b"), col("t").as("tb")), "b")
      .withColumn("dist", dist)
      // threshold mode returns -1 for "provably > maxDist": reject
      .where(col("dist") >= 0)
      .withColumn("sim", lit(1.0) - col("dist").cast("double")
        / greatest(length(col("ta")), length(col("tb")), lit(1)).cast("double"))
      .where(col("sim") >= tau)
      .select(col("a"), col("b"), col("sim"))
  }

  /** Shared candidate-intersection core of the word-shingle pair family:
    * blocked (share ≥1 capped shingle) doc pairs with their exact
    * intersection count and both set sizes — (a, b, inter, na, nb),
    * a < b. [[jaccardPairs]] and [[containmentPairs]] differ only in the
    * ratio they verify over this frame.
    */
  private def shingleIntersections(docs: DataFrame, n: Int,
                                   maxShingleFreq: Long,
                                   idCol: String, textCol: String,
                                   shingled: Option[DataFrame]): DataFrame = {
    // `shingled` = a precomputed HASHED (id, h) table from [[hashShingles]]
    // (session-memoized by callers running several dedup strategies over
    // one corpus — shingling is the family's shared dominant cost;
    // lifecycle owned by the caller)
    val sh = shingled.getOrElse(
      hashShingles(shingles(docs, n, idCol, textCol)).cache())
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    // Frequency cap: a dictionary table that PRECOMPUTED per-shingle doc
    // frequency (a `df` column, built once per corpus at memo time) pays
    // only the filter here; otherwise compute it as a window over the
    // shingle key, deliberately: the window's hash exchange is REUSED by
    // the candidate self-join below (both sides arrive partitioned by
    // h), so the whole cap+join pipeline costs one shuffle of sh. The
    // groupBy+semi-join spelling looks cheaper (no per-partition sort)
    // but adds two more shingle shuffles — measured 1.5× slower
    // end-to-end at sf0.1.
    val capped =
      if (sh.columns.contains("df"))
        sh.where(col("df") <= maxShingleFreq).drop("df")
      else sh
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("h")))
        .where(col("df") <= maxShingleFreq)
        .drop("df")
    val pairs = capped.as("x")
      .join(capped.as("y"), col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "nb"), "b")
  }

  /** Winnowing near-dup pairs — MOSS's actual use of the fingerprints
    * (Schleimer 2003 §5): documents sharing winnow-selected hashes pair
    * by an equi-join on the hash, verified as inter / min(na, nb) over
    * each doc's DISTINCT winnow-hash set (containment form — winnow
    * anchors are content-defined samples, and the min denominator keeps
    * a short doc quoted inside a long one visible, the d41 argument).
    * Compared to the word-shingle family this signal is positional and
    * sub-token (byte k-grams), so it also catches near-dups that share
    * long char runs but tokenize differently.
    *
    * Same 100 TB shape as [[jaccardPairs]]: per-hash doc-frequency cap
    * (boilerplate mega-keys die before the join; the cap window's
    * exchange is reused by the self-join), one shuffle keyed by hash,
    * one by pair. Sizes use the UNCAPPED sets (the shingleIntersections
    * convention).
    */
  def winnowPairs(docs: DataFrame, k: Int = 8, w: Int = 8,
                  tau: Double = 0.4, maxHashFreq: Long = 64,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = TextAnalysis.winnowFingerprints(docs, k = k, w = w,
        idCol = idCol, textCol = textCol)
      .toDF().select(col("doc_id").as("id"), col("h")).distinct()
    val sizes = fp.groupBy("id").agg(count(lit(1)).as("sz"))
    val capped = fp
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .where(col("df") <= maxHashFreq)
      .drop("df")
    val pairs = capped.as("x")
      .join(capped.as("y"), col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "nb"), "b")
      .withColumn("sim",
        col("inter").cast("double") / least(col("na"), col("nb")).cast("double"))
      .where(col("sim") >= tau)
      .select(col("a"), col("b"), col("sim"))
  }

  /** Character-k-gram span-overlap pairs: the substring-duplication
    * signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499) as a blocked equi-join —
    * copy-pasted spans (quotes, boilerplate, licenses) shared between
    * documents that doc-level word-shingle Jaccard underweights. Every
    * overlapping char k-gram is sampled by md5-hex PREFIX (a
    * content-defined 16^|prefix|-to-1 sample, the stratifiedSample
    * trick — trivially portable to any SQL engine, unlike a rolling
    * polynomial hash), sampled grams equi-join across docs, and pairs
    * report their shared-gram count. A gram appearing in more than
    * `maxGramFreq` docs is dropped before the join (frequency-cap
    * blocking, [[jaccardPairs]]'s bound — ubiquitous grams would
    * explode the join while identifying nothing pairwise).
    *
    * Shape per doc: the cheap start-position sequence explodes and the
    * k-char substring cuts per exploded row ([[shingles]]'s
    * Generate-shape lesson — never explode a transform-built array);
    * one shuffle keyed by gram, one by pair.
    *
    * @return (a, b, shared) — doc pairs (a < b) sharing ≥ `minShared`
    *         sampled k-grams, with the shared count
    */
  def charGramOverlap(docs: DataFrame, k: Int = 16, prefix: String = "0",
                      minShared: Long = 2, maxGramFreq: Long = 200,
                      idCol: String = "doc_id",
                      textCol: String = "text",
                      positions: Option[DataFrame] = None): DataFrame = {
    // `positions` = a memoized [[charGramPositions]] table shared with
    // the span-extent operators; dropping i + distinct reproduces the
    // inline build exactly
    val grams = positions
      .map(_.select(col("id"), col("g")).distinct())
      .getOrElse(charGramPositions(docs, k, prefix, idCol, textCol)
        .select(col("id"), col("g")).distinct())
    // df as aggregate-then-rejoin, NOT a count window over g: a gram in
    // every doc would funnel its whole row mass through one window task
    // at corpus scale, while this groupBy's partials combine map-side on
    // the distinct's (id, g)-spread partitions and the join's exchange
    // on g is reused by the self-join below (see capGramFreq's skew
    // discipline note)
    val rare = grams.groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxGramFreq)
      .select("g")
    val capped = grams.join(rare, "g")
    capped.as("x")
      .join(capped.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Span-EXTENT upgrade of [[charGramOverlap]]: per document pair, the
    * longest contiguously-shared character span — Lee et al. 2021's
    * actual unit of removal (their suffix-array substring, here
    * approximated from the same md5-prefix gram sample). The key
    * observation is the diagonal trick of sequence alignment: every
    * gram of one copy-pasted span matches at positions (i, j) with a
    * CONSTANT offset d = i - j, so grouping matches by (pair, d) and
    * splitting where consecutive sampled positions gap by more than
    * `maxGap` recovers each shared run; its extent is last - first + k
    * characters. Sampling makes extents conservative at the edges
    * (± one inter-sample gap) and `maxGap` bounds how much unshared
    * text a run may bridge between two samples.
    *
    * Same scale shape as [[charGramOverlap]] — prefix sampling, doc-
    * frequency cap before the gram equi-join — plus one window whose
    * partition key (a, b, d) is strictly finer than the pair key: no
    * single task ever holds more than one diagonal of one pair. Because
    * positions are kept (unlike the overlap op's distinct), repetitive
    * text needs its own bound: `maxOccur` caps positions per (doc,
    * gram), holding every (pair, gram)'s join fanout to maxOccur² where
    * two log-like documents would otherwise join length × length rows
    * on one gram (see [[capGramFreq]]).
    *
    * @return (a, b, span, grams) — pairs whose best run holds ≥
    *         `minShared` sampled grams; `span` is the longest qualifying
    *         run's character extent, `grams` the densest qualifying
    *         run's sample count
    */
  def charGramSpans(docs: DataFrame, k: Int = 16, prefix: String = "0",
                    minShared: Long = 2, maxGramFreq: Long = 200,
                    maxGap: Long = 64, idCol: String = "doc_id",
                    textCol: String = "text",
                    positions: Option[DataFrame] = None,
                    maxOccur: Int = 8,
                    runs: Option[DataFrame] = None): DataFrame =
    Debug.force("reduce",
      runs.getOrElse(charGramRuns(docs, k, prefix, minShared, maxGramFreq,
          maxGap, idCol, textCol, positions, maxOccur))
        .groupBy("a", "b")
        .agg(max(col("ext")).as("span"), max(col("cnt")).as("grams")))

  /** The span family's shared analytic product: one row per qualifying
    * shared run — (a, b, d, run, cnt, ext, sa) with d = the alignment
    * diagonal, cnt = sampled grams in the run, ext = character extent,
    * sa = the run's first matched position in a's coordinates (b's =
    * sa − d). [[charGramSpans]] reduces this to per-pair extents and
    * [[removeSharedSpans]] to removal intervals; a session running both
    * passes ONE (cached) runs table through their `runs` parameters —
    * the gram self-join underneath is the family's dominant cost.
    *
    * Matched grams on a diagonal: (a, b, d = i_a − i_b, pos = i_a).
    * (a, b, d, pos) is unique — a position holds one gram and d fixes
    * the partner position — so the run window has no ties.
    */
  def charGramRuns(docs: DataFrame, k: Int = 16, prefix: String = "0",
                   minShared: Long = 2, maxGramFreq: Long = 200,
                   maxGap: Long = 64, idCol: String = "doc_id",
                   textCol: String = "text",
                   positions: Option[DataFrame] = None,
                   maxOccur: Int = 8,
                   capped: Option[DataFrame] = None): DataFrame = {
    // `capped` = a PRE-CAPPED position table ([[cappedGramPositions]]),
    // for builds that self-join large position sets: without it the
    // self-join's two branches each recompute the extraction + occ
    // window + df join from scratch (Spark reuses no uncached lineage),
    // which for the exact family's full-corpus table doubled the single
    // most expensive warm build. Caller owns persist/unpersist.
    val cappedT = capped.getOrElse(capGramFreq(
      positions.getOrElse(charGramPositions(docs, k, prefix, idCol, textCol)),
      maxGramFreq, maxOccur))
    val m = cappedT.as("x")
      .join(cappedT.as("y"),
        col("x.g") === col("y.g") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (col("x.i") - col("y.i")).as("d"), col("x.i").as("pos"))
    Debug.force("candidates", diagonalRuns(m, k, minShared, maxGap))
  }

  /** EXACT-substring spans — [[charGramRuns]] at Lee et al. 2021's
    * suffix-array exactness, from the same machinery: take EVERY k-gram
    * (prefix "" disables the 16^|prefix|-to-1 sample) and require
    * strictly CONSECUTIVE diagonal matches (maxGap = 1). A shared
    * substring of length L then matches at all L − k + 1 consecutive
    * positions of its diagonal, so `ext` = L exactly — no conservative
    * edges — and every duplication of ≥ k chars is visible, where the
    * sampled family needs ≥ ~2 sampled grams to fire.
    *
    * Exactness holds up to the two scale caps, both still load-bearing:
    * grams in more than `maxGramFreq` docs are excluded (universal
    * boilerplate identifies no specific pair), and positions past
    * `maxOccur` per (doc, gram) are dropped (two log-like documents
    * would otherwise join length × length) — a doc-internal k-gram
    * repeat beyond `maxOccur` can split or shorten a reported run.
    *
    * Cost: one md5 per character of corpus (16× the prefix-"0" sample)
    * and a correspondingly larger gram join — embarrassingly parallel,
    * but at full-corpus scale prefer [[exactifyRuns]] over a sampled
    * [[charGramRuns]]: same exact extents, verify cost proportional to
    * candidate spans instead of corpus size.
    *
    * @return (a, b, d, run, cnt, ext, sa) — [[charGramRuns]]'s schema
    *         with exact extents; cnt = ext − k + 1 by construction
    */
  def exactGramRuns(docs: DataFrame, k: Int = 16, minShared: Long = 1,
                    maxGramFreq: Long = 200, idCol: String = "doc_id",
                    textCol: String = "text",
                    positions: Option[DataFrame] = None,
                    maxOccur: Int = 8,
                    capped: Option[DataFrame] = None): DataFrame =
    charGramRuns(docs, k, prefix = "", minShared, maxGramFreq,
      maxGap = 1, idCol, textCol,
      // no sampling here → raw-substring keys by default: equality is
      // the same relation, minus one md5 per corpus character
      positions = positions.orElse(
        if (capped.isDefined) None
        else Some(rawGramPositions(docs, k, idCol, textCol))),
      maxOccur, capped)

  /** The cap stage ([[capGramFreq]]) as a standalone build artifact for
    * [[charGramRuns]]' `capped` hook: occurrence-cap then df-cap a
    * position table once, persist it, and feed BOTH sides of the gram
    * self-join — instead of the join's two branches recomputing the
    * whole extraction + window + join lineage each.
    */
  def cappedGramPositions(pos: DataFrame, maxGramFreq: Long = 200,
                          maxOccur: Int = 8): DataFrame =
    capGramFreq(pos, maxGramFreq, maxOccur)

  /** FILTER-VERIFY exactness at scale: upgrade SAMPLED runs
    * ([[charGramRuns]] at prefix "0") to exact character extents by
    * re-examining only the candidate regions. [[exactGramRuns]] pays
    * one hash per corpus character; this pays one character COMPARE per
    * candidate-region character — cost proportional to what the sample
    * found, never corpus size — at the price of recall: a span the
    * sample never hit (expected when shorter than ~2·16^|prefix| chars)
    * stays invisible.
    *
    * Verify is alignment-local, so it is cheap and fanout-free: a
    * sampled run fixes its diagonal d exactly (it came from real
    * matched grams), and on a diagonal, position p of doc a pairs with
    * exactly position p − d of doc b — each region explodes to aligned
    * single-character equality tests, 1:1, no join multiplication even
    * on pathological repetitive text. Matching positions re-enter the
    * family's run window (maxGap = 1, (a, b, d)-keyed — finer than the
    * pair key) to become maximal exact runs; a gap ANYWHERE inside the
    * sampled extent splits it — sampled runs may bridge up to `maxGap`
    * unverified chars between samples, so one conservative candidate
    * can yield several exact runs.
    *
    * A run reaching the edge of its searched region may continue
    * beyond it: such runs re-enter with a doubled search slack (the
    * region is re-centered on the run), and the loop — CC-style driver
    * fixpoint, lineage cut per round — ends when no run can extend,
    * typically ≤ 2 rounds past `slack` ≥ the inter-sample gap.
    *
    * @param runs sampled candidate runs — (a, b, d, sa, ext) rows
    *        ([[charGramRuns]] output); share the memoized family table
    * @param minKeep shortest exact run worth reporting, in chars
    * @param slack initial search margin beyond the sampled extent
    * @param docsB cross-table mode: resolve the runs' b ids here
    *        (e.g. [[charGramRunsAgainst]] candidates — a = train,
    *        b = benchmark); defaults to `docs`
    * @return (a, b, d, sa, ext) — maximal exact shared substrings
    *         discoverable from the candidates: every maximal aligned
    *         char run of ≥ minKeep chars intersecting a candidate
    *         region, extents exact to the character
    */
  def exactifyRuns(docs: DataFrame, runs: DataFrame, minKeep: Long = 16,
                   slack: Long = 64, maxIter: Int = 16,
                   idCol: String = "doc_id",
                   textCol: String = "text",
                   docsB: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val docsSel = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    // cross-table mode ([[charGramRunsAgainst]] candidates): b ids
    // resolve in docsB — e.g. a's are training docs, b's benchmark docs
    val bSel = docsB
      .map(_.select(col(idCol).as("id"), col(textCol).as("t")))
      .getOrElse(docsSel)
    // candidate regions in a's char coordinates, half-open [rs, re).
    // `anc` anchors extension rounds: round 1 keeps every run its
    // regions surface (all intersect a candidate region by
    // construction); later rounds search a WIDER area than any
    // candidate covered, so only the run CONTAINING the anchor — a
    // verified matching char of the run being grown — may continue.
    // Without the anchor, a neighboring run that never intersected any
    // candidate region could ride in on a widened window, making the
    // output depend on extension accidents instead of the contract.
    Debug.time("exactify") {
      var pending = runs
        .select(col("a"), col("b"), col("d"),
          (col("sa") - slack).as("rs"),
          (col("sa") + col("ext") + slack).as("re"),
          lit(null).cast("long").as("anc"))
        .localCheckpoint()
      val emptyRuns = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new org.apache.spark.sql.types.StructType()
          .add("a", "long").add("b", "long").add("d", "long")
          .add("s", "long").add("e", "long"))
      var done = emptyRuns
      var it = 0
      var growth = slack
      var converged = pending.isEmpty
      while (!converged && it < maxIter) {
        val anchored = it > 0
        // Round fusion (r15): rounds 2+ carry (ta, tb) through the
        // per-round checkpoint, so ONLY round 1 resolves text by joining
        // `docs` — previously every round re-joined docs twice (slice +
        // grow test), and at fixture scale those per-round scan jobs, not
        // data, dominated the loop (the d38/d39 anti-scaling cluster).
        // Extendable runs are few by construction, so the text the
        // checkpoint ships is bounded by the still-growing run set, never
        // the candidate set.
        val withText =
          if (anchored) pending
          else pending
            .join(docsSel.as("da"), col("a") === col("da.id"))
            .join(bSel.as("db"), col("b") === col("db.id"))
            .select(pending.columns.map(col) :+
              col("da.t").as("ta") :+ col("db.t").as("tb"): _*)
        val anchors = withText.where(col("anc").isNotNull)
          .select(col("a"), col("b"), col("d"), col("anc"),
            col("ta"), col("tb"))
          .dropDuplicates("a", "b", "d", "anc")
        // clamp to both texts (b's bounds shifted by d), slice once per
        // region, then aligned per-char equality — w rows per region, 1:1
        val sliced = withText
          .select(col("a"), col("b"), col("d"),
            greatest(col("rs"), lit(1L), col("d") + 1L).as("lo"),
            least(col("re"), length(col("ta")) + 1L,
              length(col("tb")) + 1L + col("d")).as("hi"),
            col("ta"), col("tb"))
          .where(col("hi") > col("lo"))
          .select(col("a"), col("b"), col("d"), col("lo"), col("hi"),
            col("ta").substr(col("lo").cast("int"),
              (col("hi") - col("lo")).cast("int")).as("xa"),
            col("tb").substr((col("lo") - col("d")).cast("int"),
              (col("hi") - col("lo")).cast("int")).as("xb"))
        val matched = sliced
          .select(col("a"), col("b"), col("d"), col("lo"),
            explode(filter(
              sequence(lit(1L), length(col("xa")).cast("long")),
              i => col("xa").substr(i.cast("int"), lit(1)) ===
                col("xb").substr(i.cast("int"), lit(1)))).as("off"))
          .select(col("a"), col("b"), col("d"),
            (col("off") + col("lo") - 1L).as("pos"))
          .dropDuplicates("a", "b", "d", "pos")
        val w = Window.partitionBy("a", "b", "d").orderBy("pos")
        val allRuns = matched
          .withColumn("brk",
            when(col("pos") - lag(col("pos"), 1).over(w) > 1L, 1).otherwise(0))
          .withColumn("run", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("a", "b", "d", "run")
          .agg(min(col("pos")).as("s"), (max(col("pos")) + 1L).as("e"))
          .drop("run")
        // anchored rounds take their texts from the anchor rows (same
        // (a, b) pair → identical text; dropDuplicates keys exclude the
        // text columns so no string compare rides the dedup); round 1
        // re-joins docs for the grow test exactly as before
        val exact =
          if (!anchored) allRuns
            .join(docsSel.as("da"), col("a") === col("da.id"))
            .join(bSel.as("db"), col("b") === col("db.id"))
            .select(col("a"), col("b"), col("d"), col("s"), col("e"),
              col("da.t").as("ta"), col("db.t").as("tb"))
          else allRuns.join(anchors, Seq("a", "b", "d"))
            .where(col("s") <= col("anc") && col("anc") < col("e"))
            .select(col("a"), col("b"), col("d"), col("s"), col("e"),
              col("ta"), col("tb"))
            .dropDuplicates("a", "b", "d", "s", "e")
        // exact local extension test: can the run grow past its searched
        // window? (The char before s / at e exists in both docs and
        // matches.) Extendable runs re-region with doubled slack; the
        // rest are maximal — keep those long enough. Only extendable rows
        // carry their texts into the checkpoint (settled rows store NULL).
        val tested = exact
          .select(col("a"), col("b"), col("d"), col("s"), col("e"),
            (col("s") > 1L && col("s") - col("d") > 1L &&
              col("ta").substr((col("s") - 1L).cast("int"), lit(1)) ===
              col("tb").substr((col("s") - 1L - col("d")).cast("int"), lit(1)))
              .as("growL"),
            (col("e") <= length(col("ta")) &&
              col("e") - col("d") <= length(col("tb")) &&
              col("ta").substr(col("e").cast("int"), lit(1)) ===
              col("tb").substr((col("e") - col("d")).cast("int"), lit(1)))
              .as("growR"),
            col("ta"), col("tb"))
          .select(col("a"), col("b"), col("d"), col("s"), col("e"),
            col("growL"), col("growR"),
            when(col("growL") || col("growR"), col("ta")).as("ta"),
            when(col("growL") || col("growR"), col("tb")).as("tb"))
          .localCheckpoint()
        growth = growth * 2
        pending = tested.where(col("growL") || col("growR"))
          .select(col("a"), col("b"), col("d"),
            (col("s") - growth).as("rs"), (col("e") + growth).as("re"),
            col("s").as("anc"), col("ta"), col("tb"))
          .localCheckpoint()
        done = done.unionByName(
          tested.where(!col("growL") && !col("growR"))
            .select("a", "b", "d", "s", "e")).localCheckpoint()
        converged = pending.isEmpty
        it += 1
      }
      require(converged, s"exactifyRuns did not converge in $maxIter rounds")
      // the nested force bills its own seconds to the same label, so the
      // label sums to the loop-plus-force wall
      Debug.force("exactify",
        done
          .where(col("e") - col("s") >= minKeep)
          .select(col("a"), col("b"), col("d"), col("s").as("sa"),
            (col("e") - col("s")).as("ext"))
          .distinct())
    }
  }

  /** Cross-table twin of [[charGramSpans]]: longest contiguously-shared
    * character span between each training document and each benchmark
    * document — SPAN-level decontamination (the word-shingle
    * [[Curation.contamination]] counts hits; this measures how MUCH
    * verbatim text leaked, so a pipeline can gate on extent, e.g.
    * "drop the doc if ≥ 200 contiguous chars of any eval item appear").
    *
    * The benchmark side is an eval set — small by nature — so its gram
    * table is BROADCAST ([[Curation.contamination]]'s precedent): the
    * training corpus pays one shuffle (the doc-frequency cap window on
    * g) and never re-shuffles for the join. The cap is computed on the
    * TRAINING side only: a gram ubiquitous in training identifies no
    * specific leak, but must not be silently exempted just because it
    * also appears in a bench doc.
    *
    * @return (doc_id, bench_id, span, grams) — per (train, bench) pair
    *         with a qualifying run, the longest run's character extent
    *         and the densest run's sampled-gram count
    */
  def charGramSpansAgainst(train: DataFrame, bench: DataFrame,
                           k: Int = 16, prefix: String = "0",
                           minShared: Long = 2, maxGramFreq: Long = 200,
                           maxGap: Long = 64, idCol: String = "doc_id",
                           textCol: String = "text",
                           trainPositions: Option[DataFrame] = None,
                           benchPositions: Option[DataFrame] = None,
                           maxOccur: Int = 8,
                           runs: Option[DataFrame] = None): DataFrame =
    Debug.force("reduce",
      runs.getOrElse(
          charGramRunsAgainst(train, bench, k, prefix, minShared,
            maxGramFreq, maxGap, idCol, textCol, trainPositions,
            benchPositions, maxOccur))
        .groupBy("a", "b")
        .agg(max(col("ext")).as("span"), max(col("cnt")).as("grams"))
        .withColumnRenamed("a", idCol)
        .withColumnRenamed("b", "bench_id"))

  /** The per-run table under [[charGramSpansAgainst]] — the cross-table
    * twin of [[charGramRuns]]: one row per qualifying shared run between
    * a training doc (a) and a benchmark doc (b), with the run's diagonal
    * and start, so downstream exactness ([[exactifyRuns]] with `docsB`)
    * or interval logic can consume runs instead of per-pair maxima.
    * Same plan shape: bench side broadcast, df cap train-side only.
    */
  def charGramRunsAgainst(train: DataFrame, bench: DataFrame,
                          k: Int = 16, prefix: String = "0",
                          minShared: Long = 2, maxGramFreq: Long = 200,
                          maxGap: Long = 64, idCol: String = "doc_id",
                          textCol: String = "text",
                          trainPositions: Option[DataFrame] = None,
                          benchPositions: Option[DataFrame] = None,
                          maxOccur: Int = 8): DataFrame = {
    val tp = capGramFreq(
      trainPositions.getOrElse(charGramPositions(train, k, prefix, idCol, textCol)),
      maxGramFreq, maxOccur)
    val bp = capOccurrences(
      benchPositions
        .getOrElse(charGramPositions(bench, k, prefix, idCol, textCol)),
      maxOccur)
    val m = tp.as("x")
      .join(broadcast(bp.as("y")), col("x.g") === col("y.g"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (col("x.i") - col("y.i")).as("d"), col("x.i").as("pos"))
    Debug.force("candidates", diagonalRuns(m, k, minShared, maxGap))
  }

  /** SPAN REMOVAL — the [[charGramSpans]] signal applied: excise every
    * shared run of extent ≥ `minSpan` characters from the LARGER-id
    * document of its pair, returning the cleaned corpus. This is Lee et
    * al. 2021's actual intervention (their suffix-array dedup deletes
    * the duplicated substring, keeping one occurrence corpus-wide);
    * here the keeper rule is pairwise smaller-id — the dedup family's
    * convention ([[minhashDuplicates]], [[semanticDedup]]) — so the
    * earliest document keeps the span and every later one sheds it.
    *
    * Pipeline, all relational: diagonal runs → removal intervals in the
    * loser's coordinates [sa − d, sa − d + ext) → per-doc interval
    * union (running-max merge window) → complement segments (gaps +
    * tail via lag) → substring splice reassembled in segment order.
    * Per-doc work is proportional to that doc's interval count; no
    * step holds more than one document's intervals in one task state.
    *
    * A fully-excised document (every char inside removal intervals)
    * stays in the corpus with empty text — dropping it is a curation
    * decision ([[Curation.qualityAttrition]]'s job), not a side effect.
    *
    * @return (idCol, textCol) — the corpus with shared spans removed;
    *         untouched documents pass through verbatim
    */
  def removeSharedSpans(docs: DataFrame, k: Int = 16, prefix: String = "0",
                        minShared: Long = 2, maxGramFreq: Long = 200,
                        maxGap: Long = 64, minSpan: Long = 48,
                        idCol: String = "doc_id", textCol: String = "text",
                        positions: Option[DataFrame] = None,
                        maxOccur: Int = 8,
                        runs: Option[DataFrame] = None): DataFrame = {
    // removal intervals in the loser's (b's) coordinates, half-open
    val iv0 = runs
      .getOrElse(charGramRuns(docs, k, prefix, minShared, maxGramFreq,
        maxGap, idCol, textCol, positions, maxOccur))
      .where(col("ext") >= minSpan)
      .select(col("b").as("id"), (col("sa") - col("d")).as("s"),
        (col("sa") - col("d") + col("ext")).as("e"))
    exciseIntervals(docs, iv0, idCol, textCol)
  }

  /** Splice character intervals OUT of documents: given removal
    * intervals (id, s, e) — 1-based, half-open, possibly overlapping —
    * return the corpus with those character ranges excised. The span
    * family's shared back half ([[removeSharedSpans]] feeds it pairwise
    * losers, [[removeSharedSpansGlobal]] cluster-global losers).
    *
    * Per-doc work is proportional to that doc's interval count; no step
    * holds more than one document's intervals in one task state.
    */
  private[ext] def exciseIntervals(docs: DataFrame, iv0: DataFrame,
                                   idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // interval union: sort by (s, e), break where s clears the running
    // max end over all PRECEDING intervals (adjacent intervals merge:
    // s == maxe does not break). Duplicate intervals from different
    // partners are interchangeable under ties — the merge is
    // order-insensitive among equal rows.
    val wm = Window.partitionBy("id").orderBy("s", "e")
    val merged = iv0
      .withColumn("maxe", max(col("e")).over(
        wm.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("maxe").isNull || col("s") > col("maxe"), 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        wm.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("id", "grp")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    // complement segments: the gap before each interval [lag(e), s) and
    // one tail [max(e), len + 1); zero-length segments filter out
    val ws = Window.partitionBy("id").orderBy("s")
    val gapSegs = merged
      .select(col("id"), lag(col("e"), 1, 1L).over(ws).as("st"), col("s"))
      .select(col("id"), col("st"), (col("s") - col("st")).as("ln"))
      .where(col("ln") > 0)
    val docsSel = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    val tailSegs = merged.groupBy("id").agg(max(col("e")).as("st"))
      .join(docsSel, "id")
      .select(col("id"), col("st"),
        (length(col("t")).cast("long") + 1L - col("st")).as("ln"))
      .where(col("ln") > 0)
    // splice: substring per segment, reassemble in order. array_sort on
    // (st, seg) structs orders by st (unique per doc) — deterministic.
    val spliced = gapSegs.unionByName(tailSegs)
      .join(docsSel, "id")
      .select(col("id"),
        struct(col("st"),
          col("t").substr(col("st").cast("int"), col("ln").cast("int"))
            .as("seg")).as("p"))
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(col("p"))), p => p.getField("seg")),
        "").as("clean"))
    // affected ids with NO surviving segment are fully excised → empty
    // text, not absence
    val affected = merged.select("id").distinct()
      .join(spliced, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("clean"), lit("")).as(textCol))
    val untouched = docsSel
      .join(merged.select("id").distinct(), Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("t").as(textCol))
    Debug.force("splice", affected.unionByName(untouched))
  }

  /** CLUSTER-GLOBAL span removal — [[removeSharedSpans]] with Lee et
    * al. 2021's actual keeper rule: ONE occurrence of each duplicated
    * span survives corpus-wide. The pairwise smaller-id rule can keep
    * two occurrences when the detected pair graph is incomplete (A–B
    * and B–C runs but no A–C run: C loses to B, A and B both keep); a
    * connected-components pass over the runs' interval endpoints
    * resolves each span CLUSTER to a single keeper.
    *
    * Graph: one node per distinct removal-candidate interval (doc, s,
    * e); every qualifying run links its two endpoints' intervals, and
    * within a doc, OVERLAPPING intervals link too — the same span
    * detected against two partners yields near-identical (not
    * byte-identical: sampling truncates extents at the edges) intervals
    * that must land in one cluster, or a chain's middle doc would split
    * the component and re-admit a second keeper. Overlap connectivity
    * needs only O(intervals) edges, not the O(m²) overlap graph: after
    * the interval-merge grouping (the running-max window
    * [[exciseIntervals]] already uses), every member of a merge group
    * links to the group's first interval.
    *
    * Keeper per component = the (id, s, e)-lexicographic minimum — the
    * earliest position of the earliest document — and every OTHER node
    * becomes a removal interval for its doc. Vertices are xxhash64 of
    * the interval triple (CC runs on longs); a 64-bit collision merges
    * two clusters, which removes one extra span occurrence — the
    * conservative direction for a dedup — with probability ~n²/2⁶⁴.
    *
    * Scale shape: the runs table is the dominant cost (shared with the
    * family via `runs`); on top of it, one per-doc window for overlap
    * groups, the shuffle-bounded large/small-star closure on O(runs)
    * edges, and one aggregate per component for the keeper.
    *
    * @return (idCol, textCol) — the corpus with every non-keeper span
    *         occurrence removed; untouched documents pass through
    */
  def removeSharedSpansGlobal(docs: DataFrame, k: Int = 16,
                              prefix: String = "0", minShared: Long = 2,
                              maxGramFreq: Long = 200, maxGap: Long = 64,
                              minSpan: Long = 48, idCol: String = "doc_id",
                              textCol: String = "text",
                              positions: Option[DataFrame] = None,
                              maxOccur: Int = 8,
                              runs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rs = runs
      .getOrElse(charGramRuns(docs, k, prefix, minShared, maxGramFreq,
        maxGap, idCol, textCol, positions, maxOccur))
      .where(col("ext") >= minSpan)
    // both endpoints' intervals in their own coordinates (half-open)
    def nid(i: Column, s: Column, e: Column): Column = xxhash64(i, s, e)
    val nodes = rs
      .select(col("a").as("id"), col("sa").as("s"),
        (col("sa") + col("ext")).as("e"))
      .unionByName(rs.select(col("b").as("id"),
        (col("sa") - col("d")).as("s"),
        (col("sa") - col("d") + col("ext")).as("e")))
      .distinct()
    val runEdges = rs.select(
      nid(col("a"), col("sa"), col("sa") + col("ext")).as("a"),
      nid(col("b"), col("sa") - col("d"),
        col("sa") - col("d") + col("ext")).as("b"))
    // same-doc overlap edges: merge-group members → group's first node.
    // STRICT overlap (s >= maxe breaks): adjacent intervals share no
    // characters and must stay separate clusters — exciseIntervals's
    // adjacency-merge is for removal unions, not span identity
    val wm = Window.partitionBy("id").orderBy("s", "e")
    val grouped = nodes
      .withColumn("maxe", max(col("e")).over(
        wm.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("maxe").isNull || col("s") >= col("maxe"), 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        wm.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val overlapEdges = grouped
      .withColumn("f", first(struct(col("s"), col("e"))).over(
        Window.partitionBy("id", "grp").orderBy("s", "e")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(col("s") =!= col("f.s") || col("e") =!= col("f.e"))
      .select(nid(col("id"), col("s"), col("e")).as("a"),
        nid(col("id"), col("f.s"), col("f.e")).as("b"))
    val comp = Debug.time("closure")(
      connectedComponents(runEdges.unionByName(overlapEdges)))
      .withColumnRenamed("id", "nid")
    val labeled = nodes
      .withColumn("nid", nid(col("id"), col("s"), col("e")))
      .join(comp, "nid")
    val keepers = labeled.groupBy("root")
      .agg(min(struct(col("id"), col("s"), col("e"))).as("kp"))
    // the closure force also bills the lazy edge construction and
    // keeper election here — everything between candidates and splice
    val losers = Debug.force("closure",
      labeled.join(keepers, "root")
        .where(col("id") =!= col("kp.id") || col("s") =!= col("kp.s") ||
          col("e") =!= col("kp.e"))
        .select("id", "s", "e"))
    exciseIntervals(docs, losers, idCol, textCol)
  }

  /** EXACT LINE DEDUP — C4's intervention (Raffel et al. 2020,
    * arXiv:1910.10683, the "three-sentence span" discard; RefinedWeb and
    * Gopher run the line-granularity variant): a line of text appearing
    * verbatim anywhere earlier in the corpus is removed, keeping the
    * FIRST occurrence in (doc, position) order. The workhorse against
    * web boilerplate — nav bars, cookie banners, license footers —
    * which repeats verbatim at line granularity where the span family
    * hunts arbitrary-offset substrings.
    *
    * Lines shorter than `minLen` characters are exempt (always kept):
    * blank lines, list bullets, and punctuation-only lines repeat
    * legitimately, and deduping them would gut document structure, not
    * boilerplate.
    *
    * Scale shape: one shuffle keyed by the line content for the global
    * first-occurrence rank (only lines ≥ minLen enter the window — the
    * short-line mass never shuffles), one by doc for reassembly. The
    * keeper rule is a row_number over (line → corpus order), so a
    * 10k-way repeated banner costs one partition of 10k rows, never a
    * join blow-up. A fully-gutted document stays in the corpus with
    * empty text ([[removeSharedSpans]]'s contract — dropping is
    * curation's decision).
    *
    * @return (idCol, textCol) — the corpus with later duplicate lines
    *         removed; line order and separators are preserved verbatim
    */
  /** INTRA-document line dedup — the within-page complement of
    * [[dedupLines]] (a nav menu repeated through one page, a log line
    * stuttering): later occurrences of a duplicate line WITHIN the same
    * document drop, first stays, lines shorter than `minLen` are exempt
    * (code braces, blank separators). Entirely per-document — a pure
    * Column HOF over the line array, no shuffle at all, where the
    * corpus-wide variant pays one line-hash aggregate.
    *
    * @return (idCol, n_lines, n_dropped, textCol)
    */
  def dedupLinesWithin(docs: DataFrame, sep: String = "\n", minLen: Int = 15,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val ls = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val kept = filter(ls, (l, i) =>
      (length(l) < minLen) || (array_position(ls, l) === i + 1))
    docs.select(col(idCol),
      size(ls).as("n_lines"),
      (size(ls) - size(kept)).as("n_dropped"),
      array_join(kept, sep).as(textCol))
  }

  /** @param prioCol optional per-document trust rank (smaller = more
    *        trusted, the d73/d74 convention): the keeper copy of a
    *        duplicate line comes from the most-trusted document — which
    *        changes WHICH doc sheds the line, never which line text
    *        survives. None keeps the corpus-order (id, idx) rule.
    */
  def dedupLines(docs: DataFrame, sep: String = "\n", minLen: Int = 15,
                 idCol: String = "doc_id", textCol: String = "text",
                 prioCol: Option[String] = None): DataFrame = {
    val prio = prioCol.map(col).getOrElse(lit(0L))
    val lines = docs
      .select(col(idCol).as("id"), col(textCol).as("t"), prio.as("prio"))
      .select(col("id"), col("prio"),
        posexplode(split(col("t"), java.util.regex.Pattern.quote(sep)))
          .as(Seq("idx", "line")))
    // keeper = min (prio, id, idx) per line as a struct-min AGGREGATE,
    // not a row_number window: a universal banner line would put its
    // entire corpus-wide occurrence list through one window task, while
    // the aggregate's partials collapse map-side — the 10k-way (or
    // 10⁹-way) repeated line reduces inside each input split before
    // shuffling one row per (line, split). The struct carries the line
    // text, so no join back is needed; (id, idx) is unique, so the min
    // is the most-trusted-then-first-corpus-order occurrence exactly.
    val eligible = lines.where(length(col("line")) >= minLen)
      .groupBy(md5(col("line").cast("binary")).as("lh"))
      .agg(min(struct(col("prio"), col("id"), col("idx"), col("line"))).as("k"))
      .select(col("k.id").as("id"), col("k.idx").as("idx"),
        col("k.line").as("line"))
    val exempt = lines.where(length(col("line")) < minLen)
      .select(col("id"), col("idx"), col("line"))
    val rebuilt = eligible.unionByName(exempt)
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          p => p.getField("line")),
        sep).as("clean"))
    docs.select(col(idCol).as("id"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("clean"), lit("")).as(textCol))
  }

  /** Sampled char-k-gram positions: (id, i, g) with g = md5 of the
    * k-char substring at 1-based position i, kept when g starts with
    * `prefix` (content-defined 16^|prefix|-to-1 sampling). Positions are
    * kept (no distinct): a gram repeating WITHIN a doc marks distinct
    * span occurrences.
    *
    * Public as the span family's build-once artifact: a session running
    * several span signals ([[charGramSpans]], [[charGramSpansAgainst]],
    * [[charGramOverlap]] via distinct) passes ONE memoized position
    * table through their `positions` parameters instead of re-md5-ing
    * the corpus per operator (the [[shingles]]-dictionary precedent).
    * Gram extraction is per-document, so filtered-docs positions ==
    * filtered positions — one full-corpus table serves sliced reads.
    */
  def charGramPositions(docs: DataFrame, k: Int = 16, prefix: String = "0",
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    rawGramPositions(docs, k, idCol, textCol)
      .select(col("id"), col("i"), md5(col("g").cast("binary")).as("g"))
      .where(col("g").startsWith(prefix))

  /** [[charGramPositions]] WITHOUT the hash: (id, i, g) with g = the raw
    * k-char substring. The md5 exists for content-defined SAMPLING (the
    * hex prefix) and cross-engine portability of the sample; when no
    * sampling happens (the exact family's prefix = ""), substring
    * equality IS gram equality, the hex costs one digest per corpus
    * character for nothing, and the raw key even shuffles narrower than
    * the 32-char digest. Key spaces must not mix: a raw-key table joins
    * only against raw-key tables (the `_params` discipline).
    */
  def rawGramPositions(docs: DataFrame, k: Int = 16,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .select(col("id"), col("t"),
        explode(when(length(col("t")) >= k,
          sequence(lit(1L), (length(col("t")) - lit(k - 1)).cast("long")))
          .otherwise(array())).as("i"))
      .select(col("id"), col("i"),
        col("t").substr(col("i").cast("int"), lit(k)).as("g"))

  /** [[charGramPositions]] minus positions past the first `maxOccur`
    * occurrences of a gram WITHIN a doc, minus grams appearing in more
    * than `maxGramFreq` docs.
    *
    * The occurrence cap is the REPETITIVE-TEXT bound the df cap cannot
    * provide: df counts docs, so two log files of one repeated line (or
    * two all-'a' documents) pass df ≤ maxGramFreq yet would join
    * positions × positions on a single (pair, gram) — quadratic in
    * document length. Capping occurrences per (doc, gram) bounds every
    * (pair, gram)'s join fanout at maxOccur², and keeps the FIRST
    * occurrences, so the earliest span instance survives intact.
    *
    * SKEW DISCIPLINE (the df cap's own pre-condition is the hazard): a
    * gram in EVERY document — a license header, a site banner — is
    * guaranteed at corpus scale, and any per-g window computing its df
    * funnels that gram's entire position mass through ONE task (a
    * collect_set spelling additionally materializes an O(corpus) set:
    * the first version of this function did exactly that, fine at
    * sf0.1, OOM at the mandate). So nothing here partitions by bare g
    * before the cap: the occ window's (g, id) key is fine-grained
    * (bounded by one doc's length); the df count then rides that same
    * (g, id) exchange — dropDuplicates needs no new shuffle on already-
    * clustered data, and the groupBy(g) count combines map-side because
    * the (g, id) partitioning SPREADS a mega-gram's docs across tasks.
    * The mega-gram's only full gathering is the equi-join on g, where
    * it no longer exists: the df filter removed it before the join.
    * Costs one more exchange of the position table than the window
    * spelling; the bound is worth it.
    *
    * The occ-first order is result-identical to df-first: occ ranks
    * within (g, id) don't change when whole grams are dropped, and df's
    * distinct-doc count doesn't change when the occ cap keeps ≥ 1
    * position per (g, id) — the oracles pin this (they spell df-first).
    */
  private def capGramFreq(pos: DataFrame, maxGramFreq: Long,
                          maxOccur: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOcc = pos
      .withColumn("occ", row_number().over(
        Window.partitionBy("g", "id").orderBy("i")))
      .where(col("occ") <= maxOccur)
      .drop("occ")
    val rare = wOcc.select("g", "id").dropDuplicates("g", "id")
      .groupBy("g").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxGramFreq)
      .select("g")
    wOcc.join(rare, "g")
  }

  /** The occurrence cap alone (see [[capGramFreq]]) — for the benchmark
    * side of [[charGramSpansAgainst]], which skips the df cap but still
    * must not let one repetitive eval document multiply the join.
    */
  private[ext] def capOccurrences(pos: DataFrame, maxOccur: Int): DataFrame =
    pos
      .withColumn("occ", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("g", "id").orderBy("i")))
      .where(col("occ") <= maxOccur)
      .drop("occ")

  /** Shared run arithmetic for the span family: one row per qualifying
    * shared run — (a, b, d, run, cnt, ext, sa) with sa = the run's first
    * matched position in a's coordinates (b's = sa − d). Matches
    * (a, b, d, pos) group by diagonal, split into runs at sampled-
    * position gaps > `maxGap`. The window key (a, b, d) is strictly
    * finer than the pair key — no single task ever holds more than one
    * diagonal of one pair.
    */
  private def diagonalRuns(m: DataFrame, k: Int, minShared: Long,
                           maxGap: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("a", "b", "d").orderBy("pos")
    m
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > maxGap, 1)
          .otherwise(0))
      .withColumn("run", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("a", "b", "d", "run")
      .agg(count(lit(1)).as("cnt"),
        (max(col("pos")) - min(col("pos")) + lit(k.toLong)).as("ext"),
        min(col("pos")).as("sa"))
      .where(col("cnt") >= minShared)
  }

  // ---- MinHash + LSH --------------------------------------------------

  /** One-permutation MinHash signatures (Li, Owen & Zhang 2012) with
    * rotation densification (Shrivastava & Li 2014, "Improved
    * Densification of One Permutation Hashing"): instead of k
    * independent rehashes of EVERY shingle ([[minhashSignatures]]),
    * each shingle is hashed ONCE and routed to bucket h mod k; the
    * signature is the per-bucket min of a single salted rehash, and a
    * bucket no shingle landed in (common for short docs: expected fill
    * = 1−e^(−n/k) of k) borrows the value of the first non-empty bucket
    * to its right (circular), offset-salted so two docs empty in the
    * same bucket only agree when they borrowed the same value from the
    * same distance. Per-component collision probability stays ≈ Jaccard
    * (the densified estimator is unbiased), so [[bandHashes]]/
    * [[lshCandidates]] and the downstream pipeline work unchanged.
    *
    * Measured (OphScale probe at 5cbde10, table in DEDUP.md): in THIS
    * engine the classic builder WINS at k=128 — [[hashShingles]] has
    * already reduced shingles to 8-byte longs, so its k rehashes are
    * codegen'd long hashes inside one map-side-combined aggregate
    * (compute-dense, shuffle-light), while OPH pays a second
    * aggregation plus a typed densification pass. Keep `classic` as
    * the default; reach for OPH when the hash count itself is the
    * bottleneck — k ≫ 128, signatures over wide raw keys without a
    * dictionary pass, or hash-constrained hardware. The value
    * contract is what the d67 gate pins: identical verified pair sets.
    *
    * Shape: one (id, bucket) groupBy (map-side combinable, ≤ k rows per
    * doc out), one k-bounded list per doc, one O(k) typed densification
    * scan. Same (id, sig) schema as [[minhashSignatures]].
    */
  def minhashSignaturesOPH(sh: DataFrame, k: Int = 64): DataFrame = {
    // each shingle row pays ONE xxhash64 + one bucket route; per-bucket
    // mins collapse map-side in the (id, b) aggregate (≤ k rows per doc
    // reach the shuffle), then one k-bounded list per doc
    val bucketed = sh
      .select(col("id"), pmod(col("h"), lit(k.toLong)).cast("int").as("b"),
        xxhash64(lit("oph"), col("h")).as("hv"))
      .groupBy("id", "b")
      .agg(min("hv").as("m"))
    val fe = bucketed.groupBy("id")
      .agg(collect_list(struct(col("b"), col("m"))).as("fe"))
    // slot i's source is the filled bucket minimizing the circular
    // right-distance d = (b − i) mod k (d = 0 when i itself is filled),
    // value = m + d. Densification runs as a typed per-row JVM loop —
    // O(k) per doc via a backward double scan — NOT as array HOFs:
    // lambda HOFs evaluate interpreted per element (an O(k·fill) HOF
    // spelling benched ~20 s at sf0.1 where this runs ~1 s; a
    // MapType-probing first cut, 38 s — Catalyst's GetMapValue is a
    // linear scan). The Row-encoded mapPartitions keeps the id
    // column's type generic.
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      fe.schema("id"),
      org.apache.spark.sql.types.StructField("sig",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false))))
    fe.mapPartitions { rows =>
      rows.map { r =>
        val entries = r.getSeq[org.apache.spark.sql.Row](1)
        val m = new Array[Long](k)
        val filled = new Array[Boolean](k)
        entries.foreach { e =>
          val b = e.getInt(0); m(b) = e.getLong(1); filled(b) = true
        }
        val sig = new Array[Long](k)
        // two backward laps: j = nearest filled slot at-or-after s
        // (circular right); the first lap (i >= k) seeds the wrap
        var j = -1
        var i = 2 * k - 1
        while (i >= 0) {
          val s = i % k
          if (filled(s)) j = s
          if (i < k) {
            val d = if (j >= s) j - s else j + k - s
            sig(s) = m(j) + d
          }
          i -= 1
        }
        org.apache.spark.sql.Row(r.get(0), sig.toSeq)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** MinHash signatures: k independent permutations approximated by
    * xxhash64 with k fixed salts; signature[i] = min hash over the doc's
    * shingles. One groupBy, k aggregates — map-side combinable.
    *
    * Input is the HASHED shingle table from [[hashShingles]]: the k
    * permutations rehash its fixed-width long key — far cheaper than k
    * string hashes (and ANSI-safe, unlike multiply-shift wraparound).
    */
  def minhashSignatures(sh: DataFrame, k: Int = 64): DataFrame = {
    // k codegen'd min aggregates over salted rehashes, packed to an
    // array column for banding/estimation
    val base = sh.select(col("id"), col("h"))
    val aggs = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"m$i"))
    base.groupBy("id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding: split the k-component signature into `bands` bands of
    * `k/bands` rows; docs sharing any band hash become candidates.
    * Probability a pair with Jaccard j collides: 1-(1-j^rows)^bands.
    * Band hash = xxhash64 of the signature slice (arrays hash by
    * element), one posexplode per doc — linear, never quadratic.
    */
  def lshCandidates(sigs: DataFrame, k: Int = 64, bands: Int = 16): DataFrame = {
    val banded = bandHashes(sigs, k, bands)
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }

  /** The LSH band-bucket table itself: (id, band, bh) — the join key an
    * incremental dedup persists so tomorrow's batch can collide against
    * today's corpus without recomputing it (see [[MinHashIndex]]).
    */
  def bandHashes(sigs: DataFrame, k: Int = 64, bands: Int = 16): DataFrame = {
    val rows = k / bands
    sigs.select(
      col("id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("sig"), b * rows + 1, rows))
      }: _*)).as(Seq("band", "bh")))
  }

  /** MinHash-LSH near-dup pairs, verified with exact Jaccard ≥ tau.
    * Three-stage scale path:
    *   1. LSH banding narrows O(n²) to colliding-band candidates;
    *   2. a signature-estimate PREFILTER (fraction of agreeing minhash
    *      components ≈ Jaccard, sd = sqrt(j(1-j)/k)) drops the false
    *      candidates rows=2 banding admits — one codegen'd zip_with per
    *      pair against broadcast signatures, no shingle explosion;
    *      threshold tau-0.2 is >4.5σ below tau at k=128: miss ~1e-6;
    *   3. exact shingle-join Jaccard on the few survivors.
    */
  def minhashDuplicates(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                        k: Int = 64, bands: Int = 16,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingled: Option[DataFrame] = None,
                        signatures: Option[DataFrame] = None,
                        editTau: Option[Double] = None,
                        margin: Double = 0.2): DataFrame = {
    // precomputed hashed-shingle/signature tables: see [[jaccardPairs]].
    // `margin` must match the signature mode of any INJECTED signatures
    // (0.2 classic, 0.3 OPH — MinHashIndex.prefilterMargin).
    val sh = shingled.getOrElse(
      hashShingles(shingles(docs, n, idCol, textCol)).cache())
    val sigs = signatures.getOrElse(minhashSignatures(sh, k).cache())
    val pairs =
      verifyCandidates(lshCandidates(sigs, k, bands), sigs, sigs, sh, sh,
        tau, k, margin)
    // optional second verify (the code-corpus dedup recipe: MinHash
    // blocking, edit-distance confirmation): normalized Levenshtein
    // similarity ≥ editTau on the already-Jaccard-verified pairs only —
    // set signals are blind to ORDER (a line-permuted file keeps its
    // shingle multiset; edit distance charges every move), so this
    // drops permutation-only "near-dups" that are real content changes.
    // The O(len²) verify runs on the bounded survivor stream, texts
    // travel only to those pairs.
    editTau.fold(pairs) { et =>
      val txt = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      pairs
        .join(txt.select(col("id").as("a"), col("t").as("ta")), "a")
        .join(txt.select(col("id").as("b"), col("t").as("tb")), "b")
        .withColumn("edit_sim",
          lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double")
            / greatest(length(col("ta")), length(col("tb")), lit(1)).cast("double"))
        .where(col("edit_sim") >= et)
        .select(col("a"), col("b"), col("jaccard"), col("edit_sim"))
    }
  }

  /** [[minhashDuplicates]] on one-permutation signatures
    * ([[minhashSignaturesOPH]]): identical three-stage pipeline and —
    * because stage 3 verifies EXACT Jaccard — identical output whenever
    * LSH recall ≈ 1 (see the signature builder's Scaladoc for the
    * measured classic-vs-OPH cost verdict and when to pick which). The
    * estimate prefilter keeps a wider margin (tau − 0.3): the densified
    * estimator is unbiased but its effective sample size for a short
    * document is its FILLED bucket count (≈ k·(1−e^(−n/k)) for n
    * shingles), not k, so the estimate is noisier exactly where
    * documents are small; the wider gate admits a few more candidates
    * to exact verification instead of risking a recall miss.
    */
  def minhashDuplicatesOPH(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                           k: Int = 64, bands: Int = 16,
                           idCol: String = "doc_id", textCol: String = "text",
                           shingled: Option[DataFrame] = None): DataFrame = {
    val sh = shingled.getOrElse(
      hashShingles(shingles(docs, n, idCol, textCol)).cache())
    val sigs = minhashSignaturesOPH(sh, k)
    verifyCandidates(lshCandidates(sigs, k, bands), sigs, sigs, sh, sh,
      tau, k, margin = 0.3)
  }

  /** Stages 2–3 of the MinHash pipeline over an (a, b) candidate set:
    * signature-estimate prefilter, then exact shingle-join Jaccard ≥ tau.
    * The a side reads (sigsA, shA) and the b side (sigsB, shB) — the same
    * tables for in-corpus dedup, a new batch vs a persisted index for
    * [[MinHashIndex.dedupBatch]].
    *
    * @param bTag extra b-side key column carried through every join and
    *        the output — [[MinHashIndex.nearPairsUnion]]'s fused pass
    *        verifies cross-index and in-batch candidates in ONE chain,
    *        with the b side a tagged union of the batch and index
    *        tables; the tag keeps a batch doc and an indexed doc that
    *        share an id (a re-delivery) separate.
    * @param pruneSzB restrict the b-side size aggregate to candidate
    *        ids first: the b side may be a corpus-sized index table,
    *        and aggregating ALL of it per batch shuffles corpus rows to
    *        answer a candidates-only question (the semi-join makes the
    *        aggregate candidate-bounded — shuffle fewer bytes). Only
    *        set when `cands` is cheap to re-evaluate (checkpointed /
    *        cached): the semi-join is a second consumer of its plan.
    */
  private[ext] def verifyCandidates(cands: DataFrame,
                                    sigsA: DataFrame, sigsB: DataFrame,
                                    shA: DataFrame, shB: DataFrame,
                                    tau: Double, k: Int,
                                    margin: Double = 0.2,
                                    bTag: Option[String] = None,
                                    pruneSzB: Boolean = false): DataFrame = {
    val bKeys = "b" +: bTag.toSeq
    // stage 2: signature-estimate prefilter. No broadcast HINT on the
    // signature tables: they are O(corpus), so forcing broadcast would
    // ship the whole corpus to every executor at scale — AQE
    // auto-broadcasts below the threshold (so small corpora/batches keep
    // the fast plan) and shuffle-joins above it.
    val est = cands
      .join(sigsA.select(col("id").as("a"), col("sig").as("siga")), "a")
      .join(sigsB.select(col("id").as("b") +:
        (bTag.map(col).toSeq :+ col("sig").as("sigb")): _*), bKeys)
      .withColumn("estj",
        aggregate(zip_with(col("siga"), col("sigb"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0),
          (acc, v) => acc + v).cast("double") / k)
      .where(col("estj") >= tau - margin)
      .select(("a" +: bKeys).map(col): _*)

    // stage 3: exact verification on survivors only
    val szA = shA.groupBy("id").agg(count(lit(1)).as("sz"))
    val szBIn =
      if (!pruneSzB) shB
      else shB.join(
        cands.select((col("b").as("id") +: bTag.map(col).toSeq): _*).distinct(),
        "id" +: bTag.toSeq, "left_semi")
    val szB = szBIn.groupBy(("id" +: bTag.toSeq).map(col): _*)
      .agg(count(lit(1)).as("sz"))
    val interCnt = est
      .join(shA.select(col("id").as("a"), col("h")), "a")
      .join(shB.select(col("id").as("b") +:
        (bTag.map(col).toSeq :+ col("h")): _*), bKeys :+ "h")
      .groupBy(("a" +: bKeys).map(col): _*)
      .agg(count(lit(1)).as("inter"))
    interCnt
      .join(szA.withColumnRenamed("id", "a").withColumnRenamed("sz", "na"), "a")
      .join(szB.withColumnRenamed("id", "b").withColumnRenamed("sz", "nb"), bKeys)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= tau)
      .select(("a" +: bKeys).map(col) :+ col("jaccard"): _*)
  }

  // ---- SimHash --------------------------------------------------------

  /** 60-bit cross-engine token hash: the first 15 hex digits of md5,
    * parsed base-16 — slower than xxhash64 but reproducible in any SQL
    * engine (the d08 oracle re-derives it digit by digit).
    */
  def md5Hash60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** SimHash per document: sign of the per-bit sum of token hashes.
    * Near-dups have small Hamming distance. Computed as `bits` codegen'd
    * conditional-sum aggregates — no UDAF. `hasher`/`bits` default to the
    * fast engine hash; pass [[md5Hash60]]/60 for the oracle-portable
    * variant.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
              hasher: Column => Column = xxhash64(_), bits: Int = 64): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      explode(expr(s"regexp_extract_all($textCol, '${TextAnalysis.TokenRe}', 0)")).as("tok"))
      .withColumn("h", hasher(col("tok")))
    // Two-stage: collapse repeated tokens to (id, h, cnt) with ONE cheap
    // aggregate, then run the `bits` weighted sums over distinct hashes
    // only — natural-language token repetition makes the wide-aggregate
    // input several times smaller, and the per-row work there is the
    // pipeline's dominant cost (bits × rows conditional sums). Each
    // bit's contribution is cnt·(±1) = 2·cnt·bit − cnt.
    val uniq = toks.groupBy("id", "h").agg(count(lit(1)).as("cnt"))
    val bitAggs = (0 until bits).map { b =>
      sum(col("cnt") * (shiftright(col("h"), b).bitwiseAND(1) * 2 - 1)).as(s"b$b")
    }
    val perBit = uniq.groupBy("id").agg(bitAggs.head, bitAggs.tail: _*)
    val sig = (0 until bits)
      .map(b => when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    perBit.select(col("id"), sig.as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs within Hamming distance maxDist.
    * Blocking: split the 64-bit signature into `maxDist+1` chunks — by
    * pigeonhole, any pair within maxDist agrees exactly on ≥1 chunk, so
    * an equi-join per chunk finds all of them (no cross join).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   hasher: Column => Column = xxhash64(_), bits: Int = 64): DataFrame =
    hammingPairs(simhash(docs, idCol, textCol, hasher, bits),
      maxDist, bits, sigCol = "simhash")

  /** Pigeonhole-blocked Hamming pairs over ANY (id, signature) frame —
    * the simhash candidate machinery, reusable for other fixed-width
    * signatures (e.g. [[Multimodal.payloadHash]]'s perceptual hash):
    * split into maxDist+1 chunks, any pair within maxDist agrees exactly
    * on ≥1 chunk, equi-join per chunk, verify exact bit_count distance.
    */
  def hammingPairs(sigs: DataFrame, maxDist: Int, bits: Int,
                   sigCol: String = "simhash",
                   idCol: String = "id"): DataFrame = {
    val chunks = maxDist + 1
    val width = bits / chunks
    val keyed = sigs.select(
      col(idCol).as("id"), col(sigCol).as("__sig"),
      posexplode(array((0 until chunks).map { c =>
        shiftright(col(sigCol), c * width)
          .bitwiseAND(lit((1L << width) - 1))
      }: _*)).as(Seq("chunk", "key")))
    keyed.as("x")
      .join(keyed.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        hamming(col("x.__sig"), col("y.__sig")).as("dist"))
      .where(col("dist") <= maxDist)
      .distinct()
  }

  // ---- duplicate clusters (connected components) ---------------------

  /** Connected components of the undirected pair graph via alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the shuffle-bounded
    * CC algorithm: O(log² n) rounds worst case (typically a handful),
    * each round two edge-list shuffles, no driver-side graph state.
    * Lineage is cut per round with localCheckpoint so plans stay flat.
    *
    * Input: pairs with columns (a, b). Output: (id, root) for EVERY
    * vertex appearing in pairs, root = min id of its component; roots
    * map to themselves. Transitive closure is what a keep-one-per-cluster
    * curation job needs — raw pair output over-deletes (a~b, b~c without
    * a~c keeps only min(a,b) and min(b,c), losing a whole chain's keeper
    * structure).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30,
                          driverThreshold: Long = 1000000L): DataFrame = {
    // canonical directed pointers: (child u, parent v), u > v, distinct
    var e = pairs
      .select(col("a").cast("long").as("x"), col("b").cast("long").as("y"))
      .where(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
      .distinct()
      .localCheckpoint()
    val edgeCount = e.count()
    // Scale-adaptive: a deduped edge set within the driver threshold is
    // solved with union-find in one collect — the star loop's per-round
    // job overhead (2 shuffles + convergence check × O(log² n) rounds)
    // only pays for itself when edges exceed driver memory. The loop
    // below is the at-scale path (forced in tests via driverThreshold=0).
    // Both driver-side answers are local frames, so the edge cut is
    // released before returning.
    if (edgeCount == 0L || edgeCount <= driverThreshold)
      return Frames.scoped { frames =>
        frames.hold(e)
        if (edgeCount == 0L) {
          val spark = e.sparkSession
          import spark.implicits._
          Seq.empty[(Long, Long)].toDF("id", "root")
        } else driverUnionFind(e)
      }
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      // star steps only lower parents, so set equality ⇔ same count + no
      // new edges; both jobs run on the checkpointed round result
      converged = next.count() == e.count() && next.except(e).isEmpty
      e = next
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    val children = e.select(col("u").as("id"), col("v").as("root"))
    val roots = e.select(col("v")).distinct()
      .select(col("v").as("id"), col("v").as("root"))
    children.union(roots)
  }

  /** Path-compressing union-find over a collected edge list; roots are
    * canonicalized to the component minimum afterwards.
    */
  private def driverUnionFind(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val edges = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id canonical roots: union always points larger root at smaller,
    // so find() already yields the component minimum
    spark.createDataset(parent.keys.toSeq.sorted.map(v => (v, find(v))))
      .toDF("id", "root")
  }

  /** Large-star: every node links its LARGER neighbors to the minimum of
    * its closed neighborhood. Treats the edge list as undirected.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u").agg(min("v").as("mv"))
    nbrs.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), least(col("u"), col("mv")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: every node links its SMALLER neighbors (and itself) to
    * the minimum of its closed neighborhood. Input must be (child,
    * parent) directed with parent < child — guaranteed by [[largeStar]].
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min("v").as("mv"))
    val relinked = e.join(mins, "u").select(col("v").as("u"), col("mv").as("v"))
    val self = mins.select(col("u"), col("mv").as("v"))
    relinked.union(self).where(col("u") =!= col("v")).distinct()
  }

  /** Near-duplicate clusters over a documents table: exact-Jaccard pairs
    * → connected components → (id, root, cluster_size). The pair stage is
    * blocked (shingle equi-join), the closure is large/small-star — both
    * ends shuffle-bounded, so the whole pipeline holds at corpus scale.
    */
  def duplicateClusters(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                        maxShingleFreq: Long = 1000,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingled: Option[DataFrame] = None): DataFrame = {
    val pairs = jaccardPairs(docs, n, tau, maxShingleFreq, idCol, textCol, shingled)
    connectedComponents(pairs.select("a", "b"))
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("root")))
  }

  /** Priority keeper over near-dup components ([[exactGroupsPriority]]'s
    * rule lifted to the transitive-cluster family): each component's
    * keeper is its (priority, id)-minimum member, NOT the min-id root —
    * a crawl page whose curated twin joined the cluster later must lose
    * to it. `prio` maps id → priority (lower wins, id breaks ties) and
    * must be TOTAL over the ids in `pairs`: an id absent from `prio`
    * drops out of the result (and the election) via the inner join —
    * pass a default-priority union if the mapping is partial.
    * Priorities compare as doubles; a NULL priority loses the election
    * ([[exactGroupsPriority]]'s convention).
    *
    * Scale shape: the closure is [[connectedComponents]] (scale-adaptive
    * star loop); the keeper election is a per-root `min_by` partial
    * aggregate re-joined on root — a mega-cluster's votes collapse
    * map-side, and both join sides derive from the same components
    * frame, so the root exchange is reused.
    *
    * @return (id, root, keeper) — one row per clustered doc; everything
    *         with id != keeper is the drop set
    */
  def clusterKeepersPriority(pairs: DataFrame, prio: DataFrame,
                             idCol: String = "doc_id",
                             prioCol: String = "priority"): DataFrame = {
    val comp = connectedComponents(pairs.select("a", "b"))
    val withP = comp.join(
      prio.select(col(idCol).cast("long").as("id"),
        prioRank(col(prioCol)).as("__prio")), "id")
    val keepers = withP.groupBy("root")
      .agg(min_by(col("id"), struct(col("__prio"), col("id"))).as("keeper"))
    withP.join(keepers, "root").select(col("id"), col("root"), col("keeper"))
  }

  /** The CROSS-INDEX keeper rule every streaming dedup face shares
    * ([[graft.streaming.StreamingDedup]] /
    * [[graft.streaming.StreamingWinnowDedup]] / the gauntlet's exact,
    * near, and winnow stages): which batch docs drop against the index,
    * and which indexed match each one names.
    *
    * Without `prioCol`, every matched doc drops and names its
    * smallest-id match. With it, the exactly-once (priority, id)
    * election: a batch doc DROPS iff some indexed match is at least as
    * trusted (its `dup_of` = the (priority, id)-minimum match — the most
    * trusted copy, id breaking ties); a doc strictly more trusted than
    * every indexed match falls through to survive and become keeper for
    * its batch forward. Priorities compare through [[prioRank]].
    *
    * Scale shape: one equi-join of the batch's candidate pairs against
    * the index's (id, prio) table — the same cost class as the pairing
    * join that produced them (batch-side small, nothing quadratic) —
    * and the election itself is a map-side `min_by` partial aggregate.
    *
    * @param pairs cross-dedup candidates (doc_id, dup_of, ...) — a
    *        dedupBatch output
    * @param batch the delivery frame carrying `prioCol` (joined on
    *        doc_id; extra columns ignored)
    * @param idxPrios the index's (id, prio) table, replay-excluded by
    *        the caller; read only when `prioCol` is set
    * @return (doc_id, dup_of) — the dropped docs with elected refs
    */
  def crossKeepers(pairs: DataFrame, batch: DataFrame, prioCol: Option[String],
                   idxPrios: => DataFrame): DataFrame = prioCol match {
    case None =>
      pairs.groupBy("doc_id").agg(min(col("dup_of")).as("dup_of"))
    case Some(pc) =>
      val bp = batch.select(col("doc_id"), prioRank(col(pc)).as("__bp"))
      val ip = idxPrios.select(col("id").as("dup_of"),
        prioRank(col("prio")).as("__ip"))
      pairs.join(bp, "doc_id").join(ip, "dup_of")
        .groupBy("doc_id")
        .agg(
          min_by(col("dup_of"), struct(col("__ip"), col("dup_of"))).as("dup_of"),
          min(col("__ip")).as("__minip"), min(col("__bp")).as("__bp"))
        .where(col("__minip") <= col("__bp"))
        .select("doc_id", "dup_of")
  }

  /** The IN-BATCH component keeper rule the streaming faces share:
    * verified pairs → connected components → one keeper per component —
    * the min id (the root), or with `prioCol` the (priority, id)-minimum
    * member ([[clusterKeepersPriority]]).
    *
    * @param pairs verified in-batch pairs (a, b, ...)
    * @param docs the frame the pairs came from, carrying `prioCol`
    * @return (doc_id, dup_of) — every clustered non-keeper with its keeper
    */
  def batchKeepers(pairs: DataFrame, docs: DataFrame,
                   prioCol: Option[String]): DataFrame = prioCol match {
    case Some(pc) =>
      clusterKeepersPriority(pairs, docs, idCol = "doc_id", prioCol = pc)
        .where(col("id") =!= col("keeper"))
        .select(col("id").as("doc_id"), col("keeper").as("dup_of"))
    case None =>
      connectedComponents(pairs)
        .where(col("id") =!= col("root"))
        .select(col("id").as("doc_id"), col("root").as("dup_of"))
  }

  /** The full near-dup curation pipeline: cluster transitively-connected
    * Jaccard duplicates, keep one document per cluster (the min-id root),
    * report per-source corpus stats over the survivors. This is d07's
    * exact-dedup pipeline upgraded to near-dup semantics — the difference
    * at corpus scale is material (near-dup families in web crawls are
    * chains, not cliques).
    */
  def curateNearDups(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                     idCol: String = "doc_id", textCol: String = "text",
                     clusters: Option[DataFrame] = None): DataFrame = {
    val cl = clusters.getOrElse(
      duplicateClusters(docs, n, tau, idCol = idCol, textCol = textCol))
    val dropped = cl.where(col("id") =!= col("root")).select(col("id"))
    docs
      .join(dropped, docs(idCol) === dropped("id"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
  }

  // ---- embedding cosine ----------------------------------------------

  /** Exact cosine over double-cast embedding arrays (deterministic:
    * float→double widening is exact; see Similarity for the top-k path).
    */
  def cosine(a: Column, b: Column): Column = Similarity.cosine(a, b)

  /** Embedding near-duplicate pairs among a candidate-blocked set:
    * multi-table hyperplane LSH buckets generate candidates, exact
    * cosine verifies. The expensive per-pair work is ONE dot product:
    * vectors are unit-normalized up front, and candidates are
    * deduplicated across tables BEFORE verification (the candidate join
    * carries only (id, bucket), never vectors).
    */
  def embeddingNearDups(emb: DataFrame, tau: Double, planes: Int = 4,
                        tables: Int = 8, multiProbe: Boolean = false,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        index: Option[(DataFrame, DataFrame)] = None,
                        planesOverride: Option[Seq[Array[Double]]] = None)
      : DataFrame = {
    // `index` = the (normalized corpus, bucket table) build-once artifact,
    // session-memoized by callers (IVF/PQ-index precedent): normalization
    // is one pass but bucketing is planes×tables dot products per row —
    // rebuilding it per run dominates the query at any scale
    val c = index.map(_._1).getOrElse(
      Similarity.corpusNormalized(emb, idCol, vecCol).cache())
    val bucketed = index.map(_._2).getOrElse(
      Similarity.bucketCorpus(c, planes, tables, planesOverride = planesOverride)
        .select("id", "bucket"))
    // Multi-probe: also match codes at Hamming distance 1 within a table
    // (flip each code bit; table tag bits above `planes` are untouched).
    // One-sided expansion suffices — if codes differ in bit i, y's flip
    // at i equals x's original. Catches near-misses the sign boundary
    // splits, so the same recall needs FEWER tables: the index stays
    // `tables`×corpus rows while probing is a query-time explode of bare
    // (id, bucket) rows — at 100 TB the index size is the binding cost,
    // not the probe fan-out.
    val probed =
      if (!multiProbe) bucketed
      else bucketed.select(col("id"), explode(array(
        col("bucket") +: (0 until planes).map(i =>
          col("bucket").bitwiseXOR(lit(1L << i))): _*)).as("bucket"))
    val cands = bucketed.as("x")
      .join(probed.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    // no broadcast hint on the corpus side — see minhashDuplicates stage 2
    cands
      .join(c.select(col("id").as("a"), col("vec").as("va")), "a")
      .join(c.select(col("id").as("b"), col("vec").as("vb")), "b")
      .select(col("a"), col("b"), Similarity.dotCol(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= tau)
  }

  /** SemDeDup-style semantic deduplication (cluster-then-prune; Abbas et
    * al. 2023, arXiv:2303.09540): k-means-cluster the embedding space
    * with the IVF trainer, compare pairs only WITHIN a cluster, and drop
    * any doc with a smaller-id cluster-mate at cosine >= tau — the same
    * deterministic keeper rule as the text-dedup family. Pairwise work
    * is bounded by the largest cluster, not the corpus: at 100 TB nlist
    * scales with corpus size (SemDeDup trains ~0.1% of |corpus|
    * clusters) so per-cell pair counts stay ~constant, and the per-cell
    * self-join is a plain equi-join on `cell` — the pairs shuffle is
    * keyed by nlist values, never all-pairs. Clustering only REMOVES
    * candidate pairs vs the exact all-pairs graph, so exact survivors ⊆
    * clustered survivors (pinned in ExtSpec).
    *
    * nlist=1 degenerates to exact all-pairs semantic dedup — the
    * driver-gated oracle mode (d21, the d14/s07 exact-twin pattern);
    * `normalized=false` there keeps the plain `cosine` spelling the
    * DuckDB oracle reproduces bit-for-bit (corpusNormalized's
    * divide-then-multiply differs in the last ulp). The scale path
    * (d22) normalizes once so each pair costs ONE dot product.
    *
    * Returns survivors as (id, cell).
    */
  def semanticDedup(emb: DataFrame, tau: Double, nlist: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    normalized: Boolean = true,
                    assignment: Option[DataFrame] = None): DataFrame = {
    // `assignment` = a precomputed (id, vec, cell) frame from
    // [[clusterAssignment]], session-memoized by callers (the
    // embeddingNearDups `index` precedent): the within-cell self-join
    // reads its input TWICE, and without a cached assignment each side
    // re-runs normalize + k-means scoring over the whole corpus —
    // plan-audited as zero exchange reuse. Lifecycle owned by the
    // caller. For the continuously-growing corpus the persisted
    // [[SemanticIndex]] is the scale path.
    val assigned = assignment.getOrElse(
      clusterAssignment(emb, nlist, idCol, vecCol, normalized))
    // Per-PAIR similarity pays one dot product when normalized; the raw
    // (oracle-exact) mode's guarded cosine would pay THREE per pair —
    // so the self-norms are precomputed per ROW here and divided in
    // cosineSafe's exact order (dot / n(a) / n(b): identical doubles,
    // 3× less pair work).
    val withN =
      if (normalized) assigned
      else {
        val s2 = sqrt(Similarity.dotCol(col("vec"), col("vec")))
        assigned.withColumn("nrm",
          when(s2 === 0.0, lit(1.0)).otherwise(s2))
      }
    val sim =
      if (normalized) Similarity.dotCol(col("x.vec"), col("y.vec"))
      else Similarity.dotCol(col("x.vec"), col("y.vec")) /
        col("x.nrm") / col("y.nrm")
    // Skew-salted within-cell self-join (the store's salting precedent):
    // a bare equi-join on `cell` serializes each cell's quadratic pair
    // work through ONE task — in the nlist=1 exact mode that is the
    // whole corpus in one task (measured 4.7 s → 1.2 s at sf0.1). The y
    // side partitions by (cell, salt-of-id); the x side replicates S
    // ways — x-side volume grows n·S, pair work is unchanged but split
    // across S tasks per cell. Join output is identical.
    val S = 32L
    val ys = withN.withColumn("salt", pmod(xxhash64(col("id")), lit(S)))
    val xs = withN.withColumn("salt",
      explode(sequence(lit(0L), lit(S - 1L))))
    val dropped = xs.as("x")
      .join(ys.as("y"),
        col("x.cell") === col("y.cell") && col("x.salt") === col("y.salt") &&
          col("x.id") < col("y.id"))
      .where(sim >= tau)
      .select(col("y.id").as("id"))
      .distinct()
    assigned.select("id", "cell").join(dropped, Seq("id"), "left_anti")
  }

  /** The in-batch SemDeDup keeper rule of the streaming semantic faces:
    * within each cell of an assigned (id, vec, cell) frame, a vector
    * with a SMALLER-id cell-mate at similarity >= tau drops and names
    * the smallest such id — [[semanticDedup]]'s rule with the keeper
    * recorded. Batch-sized input, so the cell join is unsalted
    * ([[graft.streaming.StreamingCorpusPipeline.bootstrapSemantic]]
    * salts the same rule for a whole corpus).
    *
    * @return (id, dup_of)
    */
  def cellKeepers(assigned: DataFrame, tau: Double,
                  normalized: Boolean): DataFrame = {
    val sim = Similarity.pairSim(normalized, col("x.vec"), col("y.vec"))
    assigned.as("x")
      .join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .where(sim >= tau)
      .groupBy(col("y.id").as("id"))
      .agg(min(col("x.id")).as("dup_of"))
  }

  /** D4-style prototype pruning (Tirumala et al. 2023, "D4: Improving
    * LLM Pretraining via Document De-Duplication and Diversification",
    * arXiv:2308.12284 — the SSL-prototypes step of Sorscher et al.
    * 2022 applied after SemDeDup): within each k-means cell, DROP the
    * most prototypical documents — those closest to the cell's member
    * centroid — and keep the diverse tail. Near-centroid points are
    * the cluster's redundant core; the far points carry its variety.
    *
    * Mechanics: cells from [[clusterAssignment]] (nlist=1 = one global
    * cell, the exact/oracle mode); each cell's centroid is the
    * element-wise MEAN of its members (dimension-wise aggregate,
    * map-side combinable; `nlist` centroid rows collect driver-side —
    * the centroids/codebooks precedent — and broadcast back);
    * prototypicality = cosine(vec, centroid) ROUNDED to 6dp (so
    * cross-engine float drift in the mean cannot flip a rank), ranked
    * ascending with id tie-break through the two-phase
    * [[Curation.prefixSums]] scan — a giant cell spans shards instead
    * of one reducer; each cell keeps its floor(n · keepFrac)
    * least-prototypical members.
    *
    * @return kept rows: (id, cell, cos, rk, n_keep) — cos rounded 6dp,
    *         rk = 1 is the cell's most diverse member
    */
  def prototypePrune(emb: DataFrame, keepFrac: Double, nlist: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     normalized: Boolean = true,
                     assignment: Option[DataFrame] = None): DataFrame = {
    val spark = emb.sparkSession
    val assigned = assignment.getOrElse(
      clusterAssignment(emb, nlist, idCol, vecCol, normalized))
    // per-(cell, dim) means — tiny frame (nlist × dim rows), collected
    // and re-emitted as a broadcast centroid table
    val byDim = assigned
      .select(col("cell"), posexplode(col("vec")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(avg(col("x")).as("m"))
      .collect().groupBy(_.getLong(0))
      .map { case (cell, rows) =>
        (cell, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }.toSeq
    import spark.implicits._
    // centroids stay DOUBLE: the oracle's mean is double, and a float
    // round-trip here could flip the 6dp-rounded cosine at the margin
    val cents = broadcast(byDim.toDF("cell", "cent"))
    val scored = assigned.join(cents, "cell")
      .select(col("id"), col("cell"),
        round(Similarity.cosineSafe(col("vec"), col("cent")), 6).as("cos"))
    val sizes = scored.groupBy("cell").agg(count(lit(1)).as("n"))
    Curation.prefixSums(
        scored.withColumn("one", lit(1L)), "cell", "one",
        Seq(col("cos"), col("id")))
      .join(broadcast(sizes), "cell")
      .withColumn("n_keep", floor(col("n").cast("double") * keepFrac).cast("long"))
      .where(col("cum") <= col("n_keep"))
      .select(col("id"), col("cell"), col("cos"),
        col("cum").cast("long").as("rk"), col("n_keep"))
  }

  /** The (id, vec, cell) cluster assignment [[semanticDedup]] consumes:
    * nlist=1 puts everything in cell 0 (exact mode); otherwise k-means
    * cells from the IVF trainer, scored map-side
    * ([[Similarity.assignToNearest]]'s max_by — never an n×nlist
    * shuffle). Build once per (corpus, nlist) and cache when running
    * several dedups over one corpus.
    */
  def clusterAssignment(emb: DataFrame, nlist: Int,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        normalized: Boolean = true): DataFrame =
    if (nlist <= 1) {
      val c0 =
        if (normalized) Similarity.corpusNormalized(emb, idCol, vecCol)
        else Similarity.corpus(emb, idCol, vecCol)
      c0.withColumn("cell", lit(0L))
    } else {
      // assignToNearest returns (id, vec, cell) directly — joining the
      // (id, cell) membership back to c by id would re-shuffle the
      // whole corpus for nothing
      val c = Similarity.corpusNormalized(emb, idCol, vecCol)
      Similarity.assignToNearest(c, Similarity.ivfCentroids(c, nlist))
    }
}
