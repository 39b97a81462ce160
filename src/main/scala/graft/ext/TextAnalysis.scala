package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ops.Frames

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, content fingerprinting.
  *
  * All pure Column expressions over `org.apache.spark.sql.functions` —
  * codegen'd, no UDFs, embarrassingly parallel (no shuffle): at 100 TB
  * these run at scan speed with full column pruning.
  */
object TextAnalysis {

  /** Word-ish tokens: alphanumeric runs (a BPE-ish regex tokenizer's
    * pre-split). regexp_extract_all is RE2/Java-compatible so oracle
    * engines agree.
    */
  val TokenRe = "[A-Za-z0-9]+"

  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenRe), lit(0)))

  def charCount(text: Column): Column = length(text)

  /** Whitespace-token count (the classic `text.split()` number). */
  def wsTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** GPT-2-style pre-tokenizer segments: contractions, space-prefixed
    * letter/digit runs, punctuation runs, residual whitespace. Counting
    * these approximates BPE token counts far better than word counts
    * (every BPE merge happens WITHIN one pre-token). Alternation-only
    * regex — identical semantics in Java (Spark) and RE2-ish (DuckDB)
    * engines, no lookaround.
    */
  val BpeRe = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+|[ ]+"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeRe), lit(0)))

  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0)))

  // Public common stopword lists (top function words per language).
  val StopEn = Seq("the", "and", "of", "to", "a", "in", "is", "it", "you", "that")
  val StopEs = Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no")
  val StopDe = Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den")
  val StopFr = Seq("le", "la", "de", "et", "les", "des", "une", "est", "dans", "il")

  def stopwordCount(text: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(text), lit("\\b(" + words.mkString("|") + ")\\b"), lit(0)))

  /** CJK codepoint count — the zh signal. */
  def cjkCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))

  /** CJK script ranges (unified ideographs, kana, hangul) — `\x{…}`
    * spelling parses identically in Java (Spark) and RE2 (DuckDB).
    */
  val CjkRe = "[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{ac00}-\\x{d7af}]"

  /** CJK-aware token estimate: under `BpeRe` an unsegmented zh/ja/ko run
    * collapses to ONE pre-token, wildly under-billing the token budget —
    * real BPE vocabularies spend roughly one token per CJK character. So
    * each CJK codepoint counts as its own token, and the remaining text
    * (CJK blanked to spaces) goes through the GPT-2-style segment count.
    * Pure non-CJK text degrades exactly to `bpeTokenCount`.
    */
  def cjkAwareTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(CjkRe), lit(0))) +
      bpeTokenCount(trim(regexp_replace(text, CjkRe, " ")))

  /** Quality ratios (length / punctuation / stopword density). Ratios are
    * exact int/int double divisions — bit-identical across engines.
    */
  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / greatest(charCount(text).cast("double"), lit(1.0))

  def stopwordRatio(text: Column): Column =
    stopwordCount(text, StopEn).cast("double") /
      greatest(tokenCount(text).cast("double"), lit(1.0))

  /** Composite quality score in [0,1]: penalize too-short docs, reward
    * stopword density (fluent text), penalize punctuation soup.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(charCount(text).cast("double") / lit(200.0), lit(1.0))
    val swScore = least(stopwordRatio(text) * lit(4.0), lit(1.0))
    val punctPenalty = least(punctRatio(text) * lit(5.0), lit(1.0))
    (lenScore + swScore + (lit(1.0) - punctPenalty)) / lit(3.0)
  }

  /** N-gram-heuristic language ID: stopword hits per language + CJK
    * density; first maximum wins in fixed order (en, es, de, fr, zh),
    * 'und' when nothing matches.
    */
  def langId(text: Column): Column = {
    val sEn = stopwordCount(text, StopEn)
    val sEs = stopwordCount(text, StopEs)
    val sDe = stopwordCount(text, StopDe)
    val sFr = stopwordCount(text, StopFr)
    val sZh = cjkCount(text) * lit(3)
    val m = greatest(sEn, sEs, sDe, sFr, sZh)
    // null-in-null-out: with null text every score is null, every when()
    // is null, and the otherwise would mislabel the doc "zh"
    when(text.isNull, lit(null).cast("string"))
      .when(m === 0, lit("und"))
      .when(sEn === m, lit("en"))
      .when(sEs === m, lit("es"))
      .when(sDe === m, lit("de"))
      .when(sFr === m, lit("fr"))
      .otherwise(lit("zh"))
  }

  /** Canonical-content fingerprint: lowercase, collapse non-alphanumerics
    * to single spaces, trim, md5. Robust to case/punctuation/whitespace
    * variants — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")).cast("binary"))

  // ---- PII redaction --------------------------------------------------

  /** PII patterns for the standard pre-training scrub (emails, IPv4,
    * phone-ish digit runs — the C4/Dolma-style redaction set). Character
    * classes and alternation only, no lookaround, explicit `[0-9]` and
    * literal-space classes rather than `\d`/`\s` — Java `\s` includes
    * vertical tab (\x0B), RE2's does not, so a class the PATTERN
    * controls avoids the one engine divergence. (The `\S+` tokenizers
    * elsewhere in this file accept that divergence deliberately: it is
    * the t01/t04 precedent, and \x0B inside running text is excluded by
    * the corpus contract — redaction patterns get no such contract on
    * their surroundings, hence the stricter rule here.)
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[0-9][0-9 ().-]{6,}[0-9]"

  /** Redact in fixed order email → IPv4 → phone. Order matters and is
    * part of the contract: emails and IPs contain digit runs a phone
    * pattern would otherwise swallow, and every replacement token is
    * digit-free so later patterns can never re-match inside an earlier
    * replacement. Pure codegen'd Column expression — scan speed, no
    * shuffle, 100 TB safe.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Matches of one PII pattern at its redaction stage (email counts on
    * raw text, IPv4 on email-redacted, phone on IPv4-redacted — the same
    * strings `redactPii`'s stages see, so counts and replacements agree).
    */
  /** Luhn validity of a decimal-digit string column — the checksum that
    * separates plausible payment-card numbers from arbitrary digit runs
    * (the Dolma-style scrub validates before redacting so order IDs and
    * timestamps survive). Pure nested HOF — codegen'd, no UDF.
    */
  def luhnValid(x: Column): Column = {
    val len = length(x)
    val total = aggregate(sequence(lit(1), len), lit(0), (acc, i) => {
      val d = x.substr(len - i + 1, lit(1)).cast("int")
      val dd = when(i % 2 === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      acc + dd
    })
    total % 10 === 0
  }

  /** Credit-card redaction: maximal digit runs of 13–19 digits that pass
    * the Luhn checksum are replaced with `<CC>`; invalid runs (and all
    * shorter/longer ones) survive. The replace fold runs over the
    * DISTINCT valid runs in sorted order on both engines, so the (rare)
    * substring-overlap edge resolves identically everywhere.
    * Scan-speed Column expressions end to end.
    *
    * @return (idCol, n_cards, redacted)
    */
  def redactCards(docs: DataFrame,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val runs = regexp_extract_all(t, lit("[0-9]+"), lit(0))
    val valid = array_sort(array_distinct(filter(runs, x =>
      length(x) >= 13 && length(x) <= 19 && luhnValid(x))))
    docs.select(col(idCol),
      size(valid).as("n_cards"),
      aggregate(valid, t, (acc, x) =>
        replace(acc, x, lit("<CC>"))).as("redacted"))
  }

  def countRe(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0)))

  // ---- repetition signals (Gopher-style quality rules) ---------------

  /** Fraction of whitespace tokens that repeat an earlier token —
    * Gopher's duplicate-fraction family (Rae et al. 2021, §A1.1) at the
    * token granularity (this corpus has no line structure). Pure Column
    * expression; 0.0 for empty/token-free docs.
    */
  def dupTokenFraction(text: Column): Column = {
    val t = regexp_extract_all(text, lit("\\S+"), lit(0))
    when(size(t) === 0, lit(0.0)).otherwise(
      (size(t) - size(array_distinct(t))).cast("double") /
        size(t).cast("double"))
  }

  /** Per-document repetition signals: token counts, duplicate-token
    * fraction, and the most frequent token 2-gram with the fraction of
    * the document's characters its occurrences cover (Gopher's
    * "top 2-gram character fraction"; ties broken by lexicographically
    * smallest gram, overlapping occurrences counted independently so the
    * ratio can exceed 1 on degenerate repeats — documented, not capped).
    *
    * Shape: 2-grams explode per doc, the count aggregates map-side, and
    * the per-doc argmax is a `min(struct(-cnt, gram))` — one shuffle
    * keyed by (doc, gram) then one by doc, no windows, no skew beyond a
    * single document's gram vocabulary.
    */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val base = docs.select(
      col(idCol).as("doc_id"),
      length(col(textCol)).as("n_chars_m"),
      regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("t"))
    val stats = base.select(
      col("doc_id"), col("n_chars_m"),
      size(col("t")).as("n_tok"),
      size(array_distinct(col("t"))).as("n_uniq"),
      col("t"))
    val grams = stats.select(
      col("doc_id"),
      explode(zip_with(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("gram"))
    val top = grams
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(min(struct((-col("cnt")).as("neg"), col("gram").as("g"))).as("m"))
      .select(col("doc_id"), col("m.g").as("top_gram"),
        (-col("m.neg")).as("top_cnt"))
    stats
      .join(top, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tok"),
        round(when(col("n_tok") === 0, lit(0.0)).otherwise(
          (col("n_tok") - col("n_uniq")).cast("double") /
            col("n_tok").cast("double")), 4).as("dup_frac"),
        col("top_gram"),
        round(coalesce(
          col("top_cnt") * length(col("top_gram")).cast("double") /
            greatest(col("n_chars_m").cast("double"), lit(1.0)),
          lit(0.0)), 4).as("top_frac"))
  }

  // ---- feature-hashed TF vectors --------------------------------------

  /** Feature-hashed term-frequency document vectors (the "hashing
    * trick", Weinberger et al. 2009): token → bucket = hash mod dim,
    * weight = token count, l2-normalized per document — a model-free
    * text→vector bridge into the similarity/semantic-dedup family.
    *
    * Emitted SPARSE as one row per (doc, bucket): nothing dense is ever
    * shuffled (row count ≤ distinct tokens per doc), and every weight is
    * a scalar an oracle can check row by row. Shape: one shuffle keyed
    * (id, bucket) with map-side combine, then the l2 norm as a window
    * over the same id partitioning.
    *
    * @param hasher token hash — xxhash64 (fast engine default) or
    *        [[Dedup.md5Hash60]] (cross-engine, the t10 oracle spelling;
    *        the d04/d08 pattern)
    */
  def hashedTf(docs: DataFrame, dim: Int = 64,
               hasher: Column => Column = xxhash64(_),
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"),
      explode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0))).as("tok"))
    val counts = toks
      .select(col("doc_id"), pmod(hasher(col("tok")), lit(dim.toLong)).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    counts
      .withColumn("nrm",
        sqrt(sum(col("cnt") * col("cnt")).over(w).cast("double")))
      .select(col("doc_id"), col("bucket"),
        (col("cnt").cast("double") / col("nrm")).as("w"))
  }

  /** [[hashedTf]] assembled dense: (doc_id, vec: array&lt;double&gt;[dim]) —
    * the shape [[Similarity]]/[[Dedup.semanticDedup]] consume. The
    * per-doc map holds ≤ dim entries, so the collect_list is bounded by
    * dim, never by document length.
    */
  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169): score every raw-corpus document by the
    * log-likelihood ratio of its hashed unigram features under a TARGET
    * domain's bucket distribution vs the raw corpus's own —
    * llr(doc) = Σ_b c_b(doc) · (ln p̂_t(b) − ln p̂_r(b)), with add-one
    * smoothed bucket unigram models p̂(b) = (c_b + 1) / (N + dim) on
    * each side (every bucket seen ≥ "once", so no ±∞ terms). Documents
    * whose feature profile looks like the target domain score high;
    * selection is then top-k / [[Curation.bucketByScore]] /
    * thresholding over `avg_llr` (the length-normalized form — raw
    * `llr` grows with doc length, which pure importance RESAMPLING
    * wants, while quality FILTERING wants the per-token rate; both are
    * returned).
    *
    * Scale shape: two token-stream scans (raw + target) collapse
    * map-side into ≤ `dim`-row bucket tables; the dim-row log-ratio
    * table broadcasts back onto the per-doc bucket counts (themselves
    * ≤ dim rows per doc, map-side combined). Nothing ever shuffles on
    * text; the target corpus is typically tiny (a benchmark or curated
    * seed set) and the raw side streams through one aggregation — the
    * same one-pass discipline as [[unigramLm]].
    *
    * @param hasher token hash — xxhash64 (fast engine default) or
    *        [[Dedup.md5Hash60]] (cross-engine, the t10 oracle spelling)
    * @return (doc_id, tokens, llr, avg_llr) for every raw doc with ≥1
    *         token
    */
  def importanceWeights(raw: DataFrame, target: DataFrame, dim: Int = 64,
                        hasher: Column => Column = xxhash64(_),
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    def buckets(df: DataFrame) = df
      .select(col(idCol).as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0))).as("tok"))
      .select(col("doc_id"), pmod(hasher(col("tok")), lit(dim.toLong)).as("bucket"))
    // the raw token stream is scanned ONCE: per-doc bucket counts are
    // the base table, and the raw-side bucket model re-aggregates THEM
    // (≤ dim rows per doc) instead of re-tokenizing the corpus — at
    // 100 TB that is the difference between one and two passes over the
    // text. Both consumers sit on the SAME (doc_id, bucket) exchange,
    // so ReuseExchange ships the shuffle files to both (the plan audit
    // pins the ReusedExchange node).
    val dc = buckets(raw).groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
    // per-side bucket models over ALL dim buckets (unseen buckets carry
    // their smoothed c=0 mass): a dim-row frame left-joined with counts
    val allB = raw.sparkSession.range(0, dim).select(col("id").as("bucket"))
    def model(counts: DataFrame, cntCol: String, nCol: String) = {
      val n = counts.agg(coalesce(sum(cntCol), lit(0L)).as(nCol))
      allB.join(counts, Seq("bucket"), "left")
        .na.fill(0L, Seq(cntCol))
        .crossJoin(broadcast(n))
    }
    val ratio = model(
        buckets(target).groupBy("bucket").agg(count(lit(1)).as("ct")), "ct", "nt")
      .join(model(
        dc.groupBy("bucket").agg(sum("cnt").as("cr")), "cr", "nr"), "bucket")
      .select(col("bucket"),
        (log((col("ct") + 1L).cast("double") / (col("nt") + dim).cast("double")) -
         log((col("cr") + 1L).cast("double") / (col("nr") + dim).cast("double")))
          .as("lr"))
    dc
      .join(broadcast(ratio), "bucket")
      .groupBy("doc_id")
      // the per-doc Σ c_b·lr_b folds in BUCKET ORDER (orderedSum) — a
      // plain sum() accumulates in partition order, which flips the 4dp
      // rounding of boundary docs run-to-run AND vs external engines
      // (the round-8 t15 red row). ≤ dim terms per doc, so the
      // collect_list is bounded by dim, never by document length.
      .agg(sum(col("cnt")).as("tokens"),
        orderedSum(col("bucket"), col("cnt") * col("lr")).as("llr"))
      .select(col("doc_id"), col("tokens"), col("llr"),
        (col("llr") / col("tokens").cast("double")).as("avg_llr"))
  }

  /** Deterministic float reduction for score operators: fold `term`
    * (double) over ascending `order`, seeded at 0.0 — a strict
    * left-to-right IEEE-754 sum whose result is independent of
    * partitioning, task scheduling, and engine, so a rounded score can
    * hash-match an external oracle that spells the SAME ordered fold
    * (DuckDB: `list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    * list(term ORDER BY ord)), (a, b) -> a + b)`). The charEntropy
    * character-order convention, factored for reuse.
    *
    * An aggregate expression — use inside `.agg(...)`. The collected
    * list is bounded by the group's distinct `order` keys (callers keep
    * that ≤ a model dimension, never data-sized). Ties in `order` are
    * broken by `term` (sort_array on the struct is lexicographic), so
    * the fold stays deterministic even with duplicate keys.
    */
  def orderedSum(order: Column, term: Column): Column =
    aggregate(
      sort_array(collect_list(struct(order.as("o"), term.as("t")))),
      lit(0.0), (acc, x) => acc + x.getField("t"))

  def hashedTfDense(docs: DataFrame, dim: Int = 64,
                    hasher: Column => Column = xxhash64(_),
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    hashedTf(docs, dim, hasher, idCol, textCol)
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("w")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0L), lit(dim - 1L)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("vec"))

  /** A trained unigram language model: `table` = (tok, logp) for every
    * kept vocabulary token, `oovLogp` = the smoothed log-probability of
    * any unseen token. See [[unigramLm]].
    */
  final case class UnigramLm(table: DataFrame, oovLogp: Double,
                             tokens: Long, vocab: Long)

  /** Train a unigram LM over a reference corpus — the relational core
    * of CCNet's (Wenzek et al. 2020, arXiv:1911.00359) LM-perplexity
    * quality filter, with the n-gram model reduced to its unigram
    * spine: p(t) = (c_t + 1) / (N + V + 1), add-one smoothed over the
    * kept vocabulary (V types, N total training tokens), and any
    * unseen token scoring (0 + 1) / (N + V + 1) — the same formula at
    * c = 0, so scoring needs no special OOV row.
    *
    * One map-side-combinable groupBy over the token stream; `minCount`
    * prunes the tail (tokens below it fold into the unseen case),
    * bounding the dictionary a scoring join ships. The two scalars
    * (N, V) are collected driver-side — the centroids/codebooks
    * precedent, two longs, never data.
    */
  def unigramLm(corpus: DataFrame, minCount: Long = 1,
                idCol: String = "doc_id",
                textCol: String = "text"): UnigramLm = {
    val toks = corpus.select(
      explode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .cache()
    val n = toks.count()
    val v = counts.count()
    val denom = math.log((n + v + 1).toDouble)
    UnigramLm(
      counts.select(col("tok"),
        (log(col("cnt").cast("double") + 1.0) - denom).as("logp")),
      -denom, n, v)
  }

  /** Score documents against a [[UnigramLm]]: per doc, the token count
    * and the mean negative log-probability (nats/token — the monotone
    * core of perplexity; a pipeline thresholds "too surprising" docs
    * the way CCNet buckets by LM score). Token-less documents keep a
    * row with `tokens` = 0 and null `nll`.
    *
    * Scale shape: tokens equi-join the LM table on tok (the dictionary
    * is `minCount`-bounded and usually broadcastable), one aggregate
    * per doc — no other shuffle.
    */
  def unigramNll(docs: DataFrame, lm: UnigramLm,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"),
      explode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0))).as("tok"))
    val scored = toks
      .join(lm.table, Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("tokens"),
        avg(-coalesce(col("logp"), lit(lm.oovLogp))).as("nll"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tokens"), lit(0L)).as("tokens"), col("nll"))
  }

  /** A trained interpolated bigram LM: `uni` = (tok, cnt), `bi` =
    * (prev, tok, bcnt), mixed at `lambda`. See [[bigramLm]].
    */
  final case class BigramLm(uni: DataFrame, bi: DataFrame, lambda: Double,
                            tokens: Long, vocab: Long)

  /** Train an interpolated bigram LM — one rung up [[unigramLm]]'s
    * ladder toward CCNet's full KenLM: p(t | prev) = λ · p_bi + (1−λ) ·
    * p_uni with p_bi = (c(prev,t) + 1) / (c(prev) + V + 1) and p_uni =
    * (c(t) + 1) / (N + V + 1), both add-one smoothed so unseen events
    * share the formula at c = 0. Bigrams never cross document
    * boundaries. `minCount` prunes the unigram dictionary (the bigram
    * table is naturally sparser); with pruning, a pruned context scores
    * as unseen — document-level monotonicity, not a normalized LM.
    *
    * Training is two map-side-combinable groupBys over the token
    * stream; the bigram pairing is a per-doc lag window (keyed by doc,
    * bounded by one document's length — no corpus-scale window).
    */
  def bigramLm(corpus: DataFrame, lambda: Double = 0.7, minCount: Long = 1,
               idCol: String = "doc_id",
               textCol: String = "text"): BigramLm = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("idx")
    val toks = corpus.select(
      col(idCol).as("doc_id"),
      posexplode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0)))
        .as(Seq("idx", "tok")))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .cache()
    val bi = toks.withColumn("prev", lag(col("tok"), 1).over(w))
      .where(col("prev").isNotNull)
      .groupBy("prev", "tok").agg(count(lit(1)).as("bcnt"))
    BigramLm(uni, bi, lambda, toks.count(), uni.count())
  }

  /** Score documents against a [[BigramLm]]: per doc, token count and
    * mean negative log-probability — each document's first token scores
    * by the unigram term alone (no context), every later one by the
    * interpolated mixture. Token-less documents keep a row with null
    * `nll` ([[unigramNll]]'s contract).
    *
    * Scale shape: one per-doc lag window, three dictionary equi-joins
    * (unigram twice — token and context — and the bigram table), one
    * aggregate per doc.
    */
  def bigramNll(docs: DataFrame, lm: BigramLm,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("idx")
    val denomU = lit((lm.tokens + lm.vocab + 1).toDouble)
    val toks = docs.select(
        col(idCol).as("doc_id"),
        posexplode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0)))
          .as(Seq("idx", "tok")))
      .withColumn("prev", lag(col("tok"), 1).over(w))
    val joined = toks
      .join(lm.uni.select(col("tok"), col("cnt").as("cu")), Seq("tok"), "left")
      .join(lm.uni.select(col("tok").as("prev"), col("cnt").as("cp")),
        Seq("prev"), "left")
      .join(lm.bi.select(col("prev"), col("tok"), col("bcnt")),
        Seq("prev", "tok"), "left")
    val pu = (coalesce(col("cu"), lit(0L)) + 1.0) / denomU
    val pb = (coalesce(col("bcnt"), lit(0L)) + 1.0) /
      (coalesce(col("cp"), lit(0L)) + lit((lm.vocab + 1).toDouble))
    val p = when(col("prev").isNull, pu)
      .otherwise(lit(lm.lambda) * pb + (lit(1.0) - lit(lm.lambda)) * pu)
    val scored = joined
      .groupBy("doc_id")
      .agg(count(lit(1)).as("tokens"), avg(-log(p)).as("nll"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tokens"), lit(0L)).as("tokens"), col("nll"))
  }

  /** C4's cleaning rules (Raffel et al. 2020, arXiv:1910.10683 §2.2) as
    * one per-document table: line-level retention (terminal punctuation
    * [.!?"], ≥ `minWordsPerLine` words, no "javascript"), then the
    * page-level drops (fewer than `minSentences` sentences in the
    * retained text, "lorem ipsum", a curly brace). Emits the retained
    * (cleaned) text plus every intermediate count and flag, so the
    * oracle string-compares the actual intervention and a pipeline can
    * report per-rule attrition — the t14/Gopher pattern.
    *
    * Pure Column expressions (split + HOF filter + counts), no shuffle,
    * scan-speed at 100 TB.
    */
  def c4Rules(docs: DataFrame, minWordsPerLine: Int = 5,
              minSentences: Int = 3,
              idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val ls = split(col(textCol), "\n")
    val kept = filter(ls, l =>
      l.rlike("[.!?\"]$") &&
        (size(regexp_extract_all(l, lit("\\S+"), lit(0))) >= minWordsPerLine) &&
        !lower(l).contains("javascript"))
    val cleaned = array_join(kept, "\n")
    val nSent = size(regexp_extract_all(cleaned, lit("[.!?]"), lit(0)))
    val lorem = when(lower(col(textCol)).contains("lorem ipsum"), 1).otherwise(0)
    val brace = when(col(textCol).contains("{"), 1).otherwise(0)
    docs.select(
      col(idCol),
      size(ls).as("n_lines"),
      size(kept).as("n_kept"),
      nSent.as("n_sentences"),
      lorem.as("lorem"),
      brace.as("brace"),
      when(nSent >= minSentences && lorem === 0 && brace === 0, 1)
        .otherwise(0).as("keep"),
      cleaned.as("cleaned"))
  }

  final case class TrigramLm(uni: DataFrame, bi: DataFrame, tri: DataFrame,
                             l3: Double, l2: Double, tokens: Long, vocab: Long)

  /** Interpolated trigram LM — the next rung after [[bigramLm]] toward
    * CCNet's KenLM: add-one-smoothed conditional counts at all three
    * orders, n-grams never crossing document boundaries. Training is
    * three map-combinable aggregates over one posexplode + lag pass.
    */
  def trigramLm(corpus: DataFrame, l3: Double = 0.5, l2: Double = 0.3,
                minCount: Long = 1, idCol: String = "doc_id",
                textCol: String = "text"): TrigramLm = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("idx")
    val toks = corpus.select(
      col(idCol).as("doc_id"),
      posexplode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0)))
        .as(Seq("idx", "tok")))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .cache()
    val lagged = toks
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .withColumn("prev2", lag(col("tok"), 2).over(w))
    val bi = lagged.where(col("prev").isNotNull)
      .groupBy("prev", "tok").agg(count(lit(1)).as("bcnt"))
    val tri = lagged.where(col("prev2").isNotNull)
      .groupBy("prev2", "prev", "tok").agg(count(lit(1)).as("tcnt"))
    TrigramLm(uni, bi, tri, l3, l2, toks.count(), uni.count())
  }

  /** Score documents against a [[TrigramLm]]. Per-token probability by
    * available context: the first token scores by the unigram term, the
    * second by the bigram mixture with the trigram's mass backed off onto
    * it (λ = l3 + l2), the rest by l3·p̂(w|w₋₂w₋₁) + l2·p̂(w|w₋₁) +
    * (1−l3−l2)·p̂(w). Conditionals are add-one over their context count
    * plus V+1 ([[bigramNll]]'s convention at every order).
    *
    * Scale shape: one per-doc lag window, five dictionary equi-joins
    * (unigram ×2, bigram ×2 — target and context — trigram ×1), one
    * aggregate per doc; every dictionary is vocabulary-sized.
    */
  def trigramNll(docs: DataFrame, lm: TrigramLm,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("idx")
    val denomU = lit((lm.tokens + lm.vocab + 1).toDouble)
    val vp1 = lit((lm.vocab + 1).toDouble)
    val toks = docs.select(
        col(idCol).as("doc_id"),
        posexplode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0)))
          .as(Seq("idx", "tok")))
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .withColumn("prev2", lag(col("tok"), 2).over(w))
    val joined = toks
      .join(lm.uni.select(col("tok"), col("cnt").as("cu")), Seq("tok"), "left")
      .join(lm.uni.select(col("tok").as("prev"), col("cnt").as("cp")),
        Seq("prev"), "left")
      .join(lm.bi.select(col("prev"), col("tok"), col("bcnt")),
        Seq("prev", "tok"), "left")
      .join(lm.bi.select(col("prev").as("prev2"), col("tok").as("prev"),
          col("bcnt").as("ccnt")),
        Seq("prev2", "prev"), "left")
      .join(lm.tri.select(col("prev2"), col("prev"), col("tok"), col("tcnt")),
        Seq("prev2", "prev", "tok"), "left")
    val pu = (coalesce(col("cu"), lit(0L)) + 1.0) / denomU
    val pb = (coalesce(col("bcnt"), lit(0L)) + 1.0) /
      (coalesce(col("cp"), lit(0L)) + vp1)
    val pt = (coalesce(col("tcnt"), lit(0L)) + 1.0) /
      (coalesce(col("ccnt"), lit(0L)) + vp1)
    val lb = lit(lm.l3 + lm.l2)
    val p = when(col("prev").isNull, pu)
      .otherwise(when(col("prev2").isNull,
        lb * pb + (lit(1.0) - lb) * pu)
        .otherwise(lit(lm.l3) * pt + lit(lm.l2) * pb +
          (lit(1.0) - lb) * pu))
    val scored = joined
      .groupBy("doc_id")
      .agg(count(lit(1)).as("tokens"), avg(-log(p)).as("nll"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("tokens"), lit(0L)).as("tokens"), col("nll"))
  }

  /** The stopwords Gopher's "required word" rule checks for (Rae et al.
    * 2021, arXiv:2112.11446, table A1): a document must contain at least
    * `minStopHits` DISTINCT members to pass.
    */
  val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher's rule-based document-quality filter (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1) as one per-document flag table: word-count
    * bounds, mean-word-length bounds, symbol-to-word ratio (`#` and
    * ellipses), bullet-line and ellipsis-line fractions, alphabetic-word
    * fraction, and the required-stopword rule; `keep` = the conjunction.
    * Emits the raw metrics AND the 0/1 per-rule flags so a pipeline can
    * report per-rule attrition ([[graft.ext.Curation]]'s stage pattern)
    * rather than a single opaque verdict.
    *
    * Every signal is a pure Column expression over the text — counts and
    * exact int/int divisions only (no float accumulation), so the values
    * are bit-identical across engines. Scale shape: embarrassingly
    * parallel, no shuffle, runs at scan speed.
    */
  def gopherRules(docs: DataFrame,
                  minWords: Long = 50, maxWords: Long = 100000,
                  minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                  maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
                  minStopHits: Int = 2,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val words = regexp_extract_all(text, lit("\\S+"), lit(0))
    val wc = size(words).cast("long")
    val wcD = greatest(wc.cast("double"), lit(1.0))
    // mean word length = non-whitespace chars / words (exact division)
    val meanLen = length(regexp_replace(text, "\\s+", "")).cast("double") / wcD
    val symbolRatio =
      size(regexp_extract_all(text, lit("#|\\.\\.\\.|…"), lit(0)))
        .cast("double") / wcD
    val lines = split(text, "\n")
    val lnD = greatest(size(lines).cast("double"), lit(1.0))
    val bulletFrac =
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("double") / lnD
    val ellipsisFrac =
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$"))).cast("double") / lnD
    val alphaFrac =
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / wcD
    val stopHits = GopherStops
      .map(w => when(lower(text).rlike("\\b" + w + "\\b"), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    def flag(c: Column): Column = when(c, 1).otherwise(0)
    val rWords = flag(wc >= minWords && wc <= maxWords)
    val rWordLen = flag(meanLen >= minWordLen && meanLen <= maxWordLen)
    val rSymbol = flag(symbolRatio <= maxSymbolRatio)
    val rBullet = flag(bulletFrac <= maxBulletFrac)
    val rEllipsis = flag(ellipsisFrac <= maxEllipsisFrac)
    val rAlpha = flag(alphaFrac >= minAlphaFrac)
    val rStop = flag(stopHits >= minStopHits)
    docs.select(
      col(idCol).as("doc_id"),
      wc.as("words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"),
      stopHits.as("stop_hits"),
      rWords.as("r_words"), rWordLen.as("r_word_len"),
      rSymbol.as("r_symbol"), rBullet.as("r_bullet"),
      rEllipsis.as("r_ellipsis"), rAlpha.as("r_alpha"), rStop.as("r_stop"),
      (rWords * rWordLen * rSymbol * rBullet * rEllipsis * rAlpha * rStop)
        .as("keep"))
  }

  /** Linear quality scorer over [[hashedTf]] features: score =
    * sigmoid(bias + Σ w_doc(b) · weights(b)) — the fastText-style
    * "quality classifier" stage of a curation pipeline (train the tiny
    * model offline, apply it corpus-wide here), with the weights a
    * broadcast literal so scoring is one aggregate over the sparse TF
    * rows: no join, no shuffle beyond hashedTf's own. Documents with
    * no features (no tokens) score sigmoid(bias).
    */
  def scoreLinear(docs: DataFrame, weights: Seq[Double], bias: Double = 0.0,
                  hasher: Column => Column = xxhash64(_),
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val warr = array(weights.map(lit): _*)
    val z = TextAnalysis.hashedTf(docs, weights.length, hasher, idCol, textCol)
      .groupBy("doc_id")
      .agg(sum(col("w") *
        element_at(warr, (col("bucket") + 1L).cast("int"))).as("z"))
    docs.select(col(idCol).as("doc_id"))
      .join(z, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("z"), lit(0.0)) + lit(bias))))).as("score"))
  }

  /** Per-document logits under a linear model: (doc_id, z) with
    * z = bias + Σ w_doc(b) · weights(b) — [[scoreLinear]] before the
    * sigmoid, for callers that rank/threshold (monotone in score) or
    * need the exactly-gateable form: with `ordered = true` the dot
    * product folds in BUCKET order ([[orderedSum]], ≤ dim terms), so z
    * is a pure +,·,/ chain over the hashed-TF weights — deterministic
    * and bit-reproducible against an external engine spelling the same
    * fold, with no transcendental in sight. Featureless docs get
    * z = bias.
    */
  def linearLogits(docs: DataFrame, weights: Seq[Double], bias: Double = 0.0,
                   hasher: Column => Column = xxhash64(_),
                   idCol: String = "doc_id", textCol: String = "text",
                   ordered: Boolean = false): DataFrame = {
    val warr = array(weights.map(lit): _*)
    val term = col("w") * element_at(warr, (col("bucket") + 1L).cast("int"))
    val z = TextAnalysis.hashedTf(docs, weights.length, hasher, idCol, textCol)
      .groupBy("doc_id")
      .agg((if (ordered) orderedSum(col("bucket"), term) else sum(term)).as("z"))
    docs.select(col(idCol).as("doc_id"))
      .join(z, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("z"), lit(0.0)) + lit(bias)).as("z"))
  }

  /** Sliding-window document chunking: split every document into
    * `chunkTokens`-token windows advancing by `chunkTokens − overlap`
    * (the embedding/retrieval prep step — long documents become
    * encoder-sized passages with `overlap` tokens of shared context at
    * each seam). Chunk starts are 0, step, 2·step, … up to the last
    * start < n, so the final chunk may be short; every token appears in
    * ≥1 chunk and (at overlap 0) exactly one.
    *
    * Pure per-row transform — split, a bounded `sequence` of starts,
    * posexplode, slice: no shuffle, no state, trivially 100 TB-safe.
    * Whitespace tokenization (the [[wsTokenCount]] convention; an empty
    * text is one empty token, so every doc emits ≥1 chunk row).
    *
    * @return (doc_id, chunk_idx, chunk, n_tokens)
    */
  def chunkDocs(docs: DataFrame, chunkTokens: Int, overlap: Int = 0,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got ($chunkTokens, $overlap)")
    val step = chunkTokens - overlap
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), "\\s+").as("ws"))
      .select(col("doc_id"), col("ws"),
        posexplode(expr(s"transform(sequence(0L, (size(ws) - 1) div $step)," +
          s" i -> i * $step)")).as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("ws"), (col("start") + 1).cast("int"),
          lit(chunkTokens)), " ").as("chunk"),
        least(lit(chunkTokens.toLong),
          size(col("ws")).cast("long") - col("start")).as("n_tokens"))
  }

  /** BM25 keyword relevance (Robertson–Walker, the Lucene-default
    * variant with the (k1+1) numerator and idf = ln(1 + (N−df+0.5)/
    * (df+0.5)), always positive): score every document against a fixed
    * term set — the keyword-driven subset-selection stage of corpus
    * curation (pull domain-relevant documents before the expensive
    * model-based scorers run). Docs containing no query term score 0.
    *
    * Scale shape: ONE token scan folds to the (doc, tok) count table;
    * doc lengths re-aggregate those counts (never the text), the
    * ≤ |terms|-row idf table and the 1-row (N, avgdl) frame broadcast,
    * and only rows whose token IS a query term join anything — the
    * corpus-sized mass ends at the first groupBy. `ordered = true`
    * folds each doc's ≤ |terms| contributions in token order
    * ([[orderedSum]]) for the cross-engine gate.
    */
  def bm25Scores(docs: DataFrame, terms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75, idCol: String = "doc_id",
                 textCol: String = "text",
                 ordered: Boolean = false): DataFrame = {
    val tc = docs
      .select(col(idCol).as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = tc.groupBy("doc_id").agg(sum("tf").cast("double").as("dl"))
    val ids = docs.select(col(idCol).as("doc_id"))
    val stats = ids.join(dl, Seq("doc_id"), "left")
      .agg(count(lit(1)).cast("double").as("n"),
        (sum(coalesce(col("dl"), lit(0.0))) /
          count(lit(1)).cast("double")).as("avgdl"))
    val qtf = tc.where(col("tok").isin(terms.map(x => x: Any): _*))
    val idf = qtf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
      .crossJoin(broadcast(stats))
      .select(col("tok"),
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))).as("idf"))
    val term = col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val sc = qtf
      .join(broadcast(idf), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg((if (ordered) orderedSum(col("tok"), term) else sum(term))
        .as("score"))
    ids.join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** A trained linear quality classifier: `weights(b)` multiplies
    * hashed-TF bucket b, `docs` = training documents that carried ≥1
    * token (the mass each gradient averaged over). Apply with
    * [[scoreLinear]]/[[linearLogits]].
    */
  final case class LinearModel(weights: IndexedSeq[Double], bias: Double,
                               docs: Long)

  /** Train the [[scoreLinear]] classifier: logistic regression over
    * [[hashedTf]] features by full-batch gradient descent, positives =
    * curated/target exemplars (label 1), negatives = a raw-crawl sample
    * (label 0) — the quality-classifier training loop of
    * FineWeb-Edu-style curation (Penedo et al. 2024, arXiv:2406.17557)
    * and the fastText filter of CCNet (Wenzek et al. 2020), reduced to
    * its relational core so the same engine that scores the corpus
    * trains the model. Each step computes σ(z_d) − y_d per training doc
    * and the dim+1 gradient sums Σ_d g_d·x_{d,b} (bias: Σ_d g_d), then
    * updates w ← w − lr·grad/n on the driver (the model is dim+1
    * doubles — the centroids/codebooks precedent).
    *
    * Scale shape: the sparse feature table is computed ONCE, hash-
    * repartitioned by (y, doc_id) and cached, so every step's per-doc
    * aggregate and residual join reuse the partitioning with no further
    * exchange; each step is one pass over the cached features ending in
    * a ≤ dim+1-row collect, and the current weights travel as a literal
    * array (never a join). `steps` sequential jobs is the honest cost
    * of full-batch GD; it is bounded by the step count the caller
    * picks, never by data.
    *
    * Training docs with no extracted tokens carry no gradient and are
    * excluded from `n` (their features are identically zero — they
    * could only train the bias toward the base rate; document-level
    * filtering should drop them far earlier).
    *
    * `ordered = true` is the cross-engine determinism mode (one more
    * exactness property than [[orderedSum]]'s usual per-doc use: the
    * GRADIENT folds over the whole training set in (y, doc_id) order,
    * so the collected list is TRAINING-SET-sized per bucket — gate- and
    * seed-corpus-scale only, exactly like the in-memory trainer paths;
    * production training uses the default partial-aggregated sums).
    * From the zero initialization the first step's residual is exactly
    * 0.5 − y (σ(0) is exact in any IEEE engine), so a 1-step ordered
    * train is a pure +,·,/,√ chain an external SQL engine reproduces
    * bit-for-bit — the t28 oracle gates the whole train→score mechanism
    * through it, the depth-1 convention of the tokenizer trainers.
    */
  def trainLinear(pos: DataFrame, neg: DataFrame, dim: Int = 64,
                  steps: Int = 10, lr: Double = 1.0,
                  hasher: Column => Column = xxhash64(_),
                  idCol: String = "doc_id", textCol: String = "text",
                  ordered: Boolean = false): LinearModel = {
    Frames.scoped { frames =>
      val feats = frames.hold(hashedTf(pos, dim, hasher, idCol, textCol)
        .withColumn("y", lit(1.0))
        .unionByName(hashedTf(neg, dim, hasher, idCol, textCol)
          .withColumn("y", lit(0.0)))
        .repartition(col("y"), col("doc_id"))
        .persist())
      val n = feats.select("y", "doc_id").distinct().count().toDouble
      require(n > 0, "trainLinear: no training document carried a token")
      var w = IndexedSeq.fill(dim)(0.0)
      var b = 0.0
      val ord = struct(col("y"), col("doc_id"))
      for (_ <- 0 until steps) {
        val warr = array(w.map(lit): _*)
        val zterm = col("w") * element_at(warr, (col("bucket") + 1L).cast("int"))
        val perDoc = feats.groupBy("y", "doc_id")
          .agg((if (ordered) orderedSum(col("bucket"), zterm)
                else sum(zterm)).as("z"))
          .select(col("y"), col("doc_id"),
            (lit(1.0) / (lit(1.0) + exp(-(col("z") + lit(b)))) - col("y"))
              .as("g"))
        // one collect per step: the dim bucket gradients plus the bias
        // gradient riding as bucket −1
        val terms = feats.join(perDoc, Seq("y", "doc_id"))
          .select(col("y"), col("doc_id"), col("bucket"),
            (col("g") * col("w")).as("t"))
          .unionByName(perDoc.select(col("y"), col("doc_id"),
            lit(-1L).as("bucket"), col("g").as("t")))
        val grads = terms.groupBy("bucket")
          .agg((if (ordered) orderedSum(ord, col("t")) else sum(col("t")))
            .as("grad"))
          .collect()
          .map(r => r.getLong(0) -> r.getDouble(1))
          .toMap
        w = w.indices.map(i => w(i) - lr * grads.getOrElse(i.toLong, 0.0) / n)
        b = b - lr * grads.getOrElse(-1L, 0.0) / n
      }
      LinearModel(w, b, n.toLong)
    }
  }

  /** Persist a trained [[LinearModel]] as a one-row parquet artifact —
    * the [[graft.ext.Bpe.saveVocab]] precedent: train once, score many,
    * across sessions. A scoring service needs only this file (plus the
    * dim + hasher convention it was trained under, which the caller
    * owns the way the BPE pre-tokenizer is owned).
    */
  def saveLinearModel(m: LinearModel, spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    import spark.implicits._
    Seq((m.weights, m.bias, m.docs)).toDF("weights", "bias", "docs")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted [[LinearModel]]. */
  def loadLinearModel(spark: org.apache.spark.sql.SparkSession,
                      path: String): LinearModel = {
    val r = spark.read.parquet(path).head
    LinearModel(r.getSeq[Double](r.fieldIndex("weights")).toIndexedSeq,
      r.getDouble(r.fieldIndex("bias")), r.getLong(r.fieldIndex("docs")))
  }

  /** One document's rolling-hash fingerprint summary. */
  final case class RollingFp(
      doc_id: Long, n_grams: Int, n_fp: Int, fp_min: Long, fp_max: Long)

  /** Rabin–Karp rolling-hash fingerprinting: polynomial hashes of every
    * k-byte gram (one O(n) pass via the rolling recurrence), mod-sampled
    * (`h % sample == 0`) to a content-defined fingerprint set — the
    * near-dup/shift-robust sibling of the canonical md5 `fingerprint`
    * (a one-byte edit disturbs only the k grams covering it). Per-byte
    * imperative work → typed mapPartitions, one pass, no shuffle.
    */
  def rollingFingerprints(docs: DataFrame, k: Int = 8, base: Long = 31L,
                          mod: Long = 1000000007L, sample: Int = 8,
                          idCol: String = "doc_id",
                          textCol: String = "text"): Dataset[RollingFp] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val topPow = Array.iterate(1L, k)(h => h * base % mod).last // base^(k-1)
    docs.select(col(idCol), col(textCol)).as[(Long, String)].mapPartitions(_.map {
      case (id, text) =>
        val bs = text.getBytes("UTF-8")
        val nGrams = math.max(bs.length - k + 1, 0)
        var fpMin = Long.MaxValue
        var fpMax = Long.MinValue
        val seen = scala.collection.mutable.HashSet.empty[Long]
        var h = 0L
        var p = 0
        while (p < bs.length) {
          val b = bs(p) & 0xffL
          h =
            if (p < k) (h * base + b) % mod
            else (((h - (bs(p - k) & 0xffL) * topPow) % mod + mod) % mod * base + b) % mod
          if (p >= k - 1 && h % sample == 0) {
            seen += h
            if (h < fpMin) fpMin = h
            if (h > fpMax) fpMax = h
          }
          p += 1
        }
        RollingFp(id, nGrams, seen.size,
          if (seen.isEmpty) -1L else fpMin, if (seen.isEmpty) -1L else fpMax)
    })
  }

  final case class WinnowFp(doc_id: Long, pos: Int, h: Long)

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003):
    * over the Rabin–Karp k-gram hash stream, every window of `w`
    * consecutive hashes contributes its minimum (rightmost on ties); the
    * distinct selected (pos, hash) pairs are the document's fingerprints.
    * The published guarantee mod-sampling (`rollingFingerprints`) lacks:
    * any shared substring of at least w + k − 1 chars is ALWAYS detected,
    * at expected density 2/(w+1). Documents with fewer than `w` grams
    * select nothing (no full window exists).
    *
    * Per-byte imperative work (rolling hash + monotone deque, one O(n)
    * pass) → typed mapPartitions, no shuffle — the t06 precedent.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 8, w: Int = 8,
                         base: Long = 31L, mod: Long = 1000000007L,
                         idCol: String = "doc_id",
                         textCol: String = "text"): Dataset[WinnowFp] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val topPow = Array.iterate(1L, k)(h => h * base % mod).last // base^(k-1)
    docs.select(col(idCol), col(textCol)).as[(Long, String)].flatMap {
      case (id, text) =>
        val bs = text.getBytes("UTF-8")
        val n = bs.length - k + 1
        if (n < w) Iterator.empty
        else {
          val hs = new Array[Long](n)
          var h = 0L
          var p = 0
          while (p < bs.length) {
            val b = bs(p) & 0xffL
            h =
              if (p < k) (h * base + b) % mod
              else (((h - (bs(p - k) & 0xffL) * topPow) % mod + mod) % mod * base + b) % mod
            if (p >= k - 1) hs(p - k + 1) = h
            p += 1
          }
          // monotone deque: popping `>=` from the back keeps the RIGHTMOST
          // of equal minima at the front, the paper's tie rule
          val dq = new java.util.ArrayDeque[Int]()
          val out = scala.collection.mutable.LinkedHashSet.empty[(Int, Long)]
          var j = 0
          while (j < n) {
            while (!dq.isEmpty && hs(dq.peekLast) >= hs(j)) dq.pollLast()
            dq.addLast(j)
            while (dq.peekFirst <= j - w) dq.pollFirst()
            if (j >= w - 1) out += ((dq.peekFirst, hs(dq.peekFirst)))
            j += 1
          }
          out.iterator.map { case (pos, hv) => WinnowFp(id, pos, hv) }
        }
    }
  }

  final case class CharEntropy(doc_id: Long, n_chars: Int, entropy: Double)

  /** Shannon character entropy per document — the classic repetitiveness
    * signal for web-text cleaning (low entropy = boilerplate / repeated
    * filler; complements Gopher's token-level repetition rules with a
    * tokenizer-free one). Computed as ln(n) − Σ c·ln(c) / n with the sum
    * taken in CHARACTER ORDER on both engines, so the float accumulation
    * order is deterministic cross-engine (chars are UTF-16 code units —
    * identical to codepoints in the BMP, the split("") caveat).
    * Single per-doc pass → typed mapPartitions, no shuffle.
    */
  def charEntropy(docs: DataFrame,
                  idCol: String = "doc_id",
                  textCol: String = "text"): Dataset[CharEntropy] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol), col(textCol)).as[(Long, String)].mapPartitions(_.map {
      case (id, text) =>
        val counts = new java.util.TreeMap[Char, Long]()
        var i = 0
        while (i < text.length) {
          counts.merge(text.charAt(i), 1L, _ + _)
          i += 1
        }
        val n = text.length
        if (n == 0) CharEntropy(id, 0, 0.0)
        else {
          var slc = 0.0
          val it = counts.values().iterator()
          while (it.hasNext) { val c = it.next(); slc += c * math.log(c.toDouble) }
          CharEntropy(id, n, math.log(n.toDouble) - slc / n)
        }
    })
  }

  /** Unicode normalization (java.text.Normalizer): the cleaning pass a
    * multilingual pipeline runs BEFORE any fingerprint/shingle dedup —
    * the same text arriving precomposed ("é" U+00E9) and decomposed
    * ("e" + U+0301) hashes differently and defeats exact dedup unless
    * both are first mapped to one form. NFC by default; NFD/NFKC/NFKD
    * accepted (NFKC additionally folds compatibility characters —
    * fullwidth forms, ligatures — the aggressive web-text choice).
    *
    * Pure per-row map (typed mapPartitions, Row-encoded so every other
    * column — id of any type, embeddings, metadata — rides along
    * untouched) — scan speed, zero shuffle, 100 TB safe. Appends
    * `text_norm` and `changed` to the input row; `changed` flags rows
    * the normalization actually rewrote, so a pipeline can count them.
    *
    * ASCII fast path: every normalization form is the identity below
    * U+0080 (no decompositions, combining marks, or compatibility
    * mappings exist in ASCII), and real web corpora are
    * ASCII-dominated — so a one-pass char scan skips the Normalizer
    * for pure-ASCII rows entirely. `changed` stays false on that path
    * by construction (`n eq t`), preserving the column's contract.
    */
  def normalizeDocs(docs: DataFrame, form: String = "NFC",
                    textCol: String = "text"): DataFrame = {
    val f = java.text.Normalizer.Form.valueOf(form)
    val ti = docs.schema.fieldIndex(textCol)
    val outSchema = docs.schema
      .add("text_norm", org.apache.spark.sql.types.StringType)
      .add("changed", org.apache.spark.sql.types.BooleanType,
        nullable = false)
    docs.mapPartitions { rows =>
      rows.map { r =>
        val t = r.getString(ti)
        val n =
          if (t == null) null
          else {
            var ascii = true
            var i = 0
            while (ascii && i < t.length) {
              if (t.charAt(i) >= 0x80) ascii = false
              i += 1
            }
            if (ascii) t else java.text.Normalizer.normalize(t, f)
          }
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq :+ n :+ (t != null && (n ne t) && n != t))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Word n-gram occurrences WITH multiplicity — (id, gram), one row
    * per occurrence (unlike [[Dedup.shingles]]' per-doc distinct set):
    * the base table for corpus frequency analytics.
    */
  def ngramOccurrences(docs: DataFrame, n: Int = 2,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol).as("id"), split(col(textCol), "\\s+").as("ws"))
      .select(col("id"),
        explode(expr(s"CASE WHEN size(ws) >= $n THEN sequence(1, size(ws) - ${n - 1}) " +
          "ELSE array() END")).as("i"), col("ws"))
      .select(col("id"), expr(s"concat_ws(' ', slice(ws, i, $n))").as("gram"))

  /** Exact corpus-wide heavy hitters: the topK word n-grams by total
    * occurrence count, with document frequency — the boilerplate /
    * template / stopword-phrase discovery pass a curation pipeline runs
    * before tuning its dedup and line-clean thresholds (a gram with
    * df ≈ corpus size IS the banner the line dedup should kill).
    * Deterministic total order: (tf desc, gram asc).
    *
    * Scale shape: the tf aggregate is map-side combinable into a
    * vocabulary-sized table; df needs one (gram, id)-distinct exchange;
    * topK plans as TakeOrderedAndProject (no global sort). The shuffle
    * is vocabulary-sized, not corpus-sized — when even the vocabulary
    * is too large (open-domain n-grams at 100 TB), use
    * [[topNgramsSketch]], whose shuffle is bounded by
    * counters × partitions regardless of vocabulary.
    */
  def topNgrams(docs: DataFrame, n: Int = 2, topK: Int = 50,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    ngramOccurrences(docs, n, idCol, textCol)
      .groupBy("gram")
      .agg(count(lit(1)).as("tf"), countDistinct(col("id")).as("df"))
      .orderBy(col("tf").desc, col("gram").asc)
      .limit(topK)

  /** Per-document TF-IDF keyword extraction: each document's top-k
    * terms by tf · ln(N/df) — the classic descriptor/tagging pass
    * (retrieval indexing, topic labeling, dedup-cluster naming), the
    * per-DOC complement of [[bm25Scores]] (which ranks docs against a
    * fixed query) and [[topNgrams]] (corpus-global phrases).
    *
    * Scale shape: tf is a map-side-combinable (doc, term) aggregate,
    * df a vocabulary-sized re-aggregate of tf, N a 1-row broadcast,
    * and the top-k window partitions by doc — no global sort, no
    * single-task hotspot. Scores are rounded to 6dp BEFORE ranking
    * (the d42/d52 convention) so rank order is reproducible across
    * engines despite ln's last-ulp wiggle; ties break by term.
    *
    * @return (doc_id, rank, term, score), rank 1..k per doc with ≥1
    *         token
    */
  def topTerms(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0))).as("tok"))
    val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).cast("double").as("n"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok").asc)
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf").cast("double") * log(col("n") / col("df").cast("double")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok").as("term"), col("score"))
  }

  /** [[topNgrams]] for vocabularies that must never be shuffled whole:
    * per-partition Misra–Gries summaries (`counters` slots each) nominate
    * a bounded candidate set, and only candidates are exactly recounted.
    * An n-gram absent from EVERY partition summary has total count
    * ≤ N/(counters+1) (the merged MG guarantee), so whenever the true
    * topK all clear that bar — the regime heavy-hitter queries live in —
    * the output is EXACTLY [[topNgrams]]' (the recount is exact, the
    * MG undercounts are discarded). Shuffle cost: candidates ≤
    * counters × partitions rows broadcast back, one corpus-sized scan
    * recounting only matching grams; the full vocabulary never leaves
    * the executors. Registered oracle-less (candidate nomination is
    * partition-order dependent below the guarantee bar); the spec pins
    * sketch ≡ exact on guarantee-satisfying fixtures.
    */
  def topNgramsSketch(docs: DataFrame, n: Int = 2, topK: Int = 50,
                      counters: Int = 4096,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val occ = ngramOccurrences(docs, n, idCol, textCol)
    val spark = docs.sparkSession
    import spark.implicits._
    val cands = occ.select("gram").as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { g =>
        m.get(g) match {
          case Some(c) => m.update(g, c + 1)
          case None if m.size < counters => m.update(g, 1L)
          case None =>
            // Misra–Gries decrement step: every resident loses one
            // occurrence; exhausted residents vacate their slot
            m.mapValuesInPlace((_, c) => c - 1)
            m.filterInPlace((_, c) => c > 0)
        }
      }
      m.keysIterator
    }.distinct().toDF("gram")
    occ
      .join(broadcast(cands), "gram")
      .groupBy("gram")
      .agg(count(lit(1)).as("tf"), countDistinct(col("id")).as("df"))
      .orderBy(col("tf").desc, col("gram").asc)
      .limit(topK)
  }
}
