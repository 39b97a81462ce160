package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.ext._
import graft.ops.{Frames, Io}

/** Driver-verifiable queries for the training-data-pipeline extensions
  * (SURVEY.md §7.1 ext/): dedup, similarity search, text analysis,
  * multimodal plumbing — over the `documents` and `embeddings` tables.
  *
  * Engine-hash-dependent operators (MinHash/SimHash/LSH) either carry an
  * oracle on their exact-verified OUTPUT (candidate recall is made
  * effectively 1 by parameter choice, then exact verification fixes
  * precision) or are registered oracle-less (driver rows-only check) and
  * validated against brute force in ScalaTest.
  */
object ExtQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Io.readTable(s, dir, "documents")

  private def emb(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Io.readTable(s, dir, "embeddings")

  /** GPT-2-style pre-tokenizer regex, single-quote-doubled for embedding
    * in DuckDB SQL literals (the contraction alternative starts with ').
    */
  private val bpeReSql = TextAnalysis.BpeRe.replace("'", "''")

  /** 4dp rounding for SIGNED scores, with signed-zero normalization:
    * IEEE `x + 0.0` maps -0.0 to +0.0 and changes nothing else. The
    * driver hash-compares raw column values, and a tiny-negative score
    * (an LLR, a logit) that rounds to zero keeps its sign bit under
    * DuckDB's binary `round` but not under Spark's BigDecimal path —
    * value-equal yet hash-different (the r9 t15/t28 red rows, the only
    * bit diffs on the whole surface). Every oracle whose score column
    * can go negative near zero must spell `round(x, 4) + 0.0` and the
    * Spark side must use this helper, so both engines land on +0.0.
    */
  private def roundSigned(c: Column, scale: Int = 4): Column =
    round(c, scale) + lit(0.0)

  private val WinnowMod = 1000000007L

  /** Shared winnowing CTE chain (t20/d54): rebuild the Rabin–Karp k-gram
    * hash stream from the text's hex bytes (t06's arithmetic), then
    * winnow with list ops — window minimum with the RIGHTMOST tie via
    * list_position over the reversed window, (pos, h) packed as
    * pos·mod + h in `sel.ss`. k = w = 8, base 31, mod 1e9+7.
    *
    * Parameterized (r13, for the d85 capstone): `src` is the
    * (doc_id, text) relation to winnow and `pfx` prefixes every CTE
    * name so the chain can compose with other fragments (trainCtesSql
    * also defines a `g`) — and the leading WITH is the CALLER's when a
    * prefix is given.
    */
  private def winnowCtesFrom(src: String, pfx: String): String = {
    val (k, w, b, m) = (8, 8, 31L, WinnowMod)
    val pw = (0 until k).map(j =>
      (0 until (k - 1 - j)).foldLeft(1L)((h, _) => h * b % m))
    val lead = if (pfx.isEmpty) "WITH " else ""
    s"""$lead${pfx}bx AS (SELECT doc_id, hex(encode(text)) AS hx FROM $src),
       |${pfx}u AS (
       |  SELECT doc_id, i,
       |    strpos('123456789ABCDEF', substr(hx, i*2-1, 1)) * 16 +
       |    strpos('123456789ABCDEF', substr(hx, i*2, 1)) AS byte
       |  FROM ${pfx}bx, unnest(range(1, length(hx)//2 + 1)) AS t(i)),
       |${pfx}l AS (SELECT doc_id, list(byte ORDER BY i) AS bs FROM ${pfx}u GROUP BY 1),
       |${pfx}g AS (
       |  SELECT doc_id, CAST(greatest(len(bs) - $k + 1, 0) AS INTEGER) AS n_grams,
       |    list_transform(generate_series(1, greatest(len(bs) - $k + 1, 0)), p ->
       |      list_sum(list_transform(generate_series(0, ${k - 1}), j ->
       |        bs[p + j] * CAST([${pw.mkString(",")}][j + 1] AS BIGINT))) % $m) AS hs
       |  FROM ${pfx}l),
       |${pfx}sel AS (
       |  SELECT doc_id, list_distinct(list_transform(generate_series($w, n_grams), t ->
       |    (t - list_position(list_reverse(hs[t-$w+1:t]), list_min(hs[t-$w+1:t])))
       |      * CAST($m AS BIGINT) + list_min(hs[t-$w+1:t]))) AS ss
       |  FROM ${pfx}g WHERE n_grams >= $w)""".stripMargin
  }

  private val winnowCtes: String = winnowCtesFrom("documents", "")

  /** PQ index memo per (session, dir): index build is a one-time cost
    * (like the materialized level-0 in WhisperQueries) — queries reuse it.
    */
  private val pqMemo = new Memo[(DataFrame, DataFrame)]("pq")

  private def pqIndexFor(s: org.apache.spark.sql.SparkSession,
                         dir: String): (DataFrame, DataFrame) =
    pqMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => Similarity.pqIndex(emb(s, dir)))

  /** IVF index memo per (session, dir): centroid training + cell
    * assignment is the build-once artifact (same reasoning as pqMemo) —
    * searches at every nprobe reuse it.
    */
  private val ivfMemo = new Memo[(DataFrame, DataFrame)]("ivf")

  private def ivfIndexFor(s: org.apache.spark.sql.SparkSession,
                          dir: String, nlist: Int): (DataFrame, DataFrame) =
    ivfMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir:$nlist",
      _ => {
        val c = Similarity.corpus(emb(s, dir))
        val cents = Similarity.ivfCentroids(c, nlist).cache()
        val membership = Similarity.ivfMembership(c, cents).cache()
        membership.count() // materialize once
        (cents, membership)
      })

  /** PQ index round-tripped through parquet persistence (save → load):
    * s08 searches the RELOADED index, so the persistence path itself is
    * under the brute-force oracle.
    */
  private val pqPersistMemo = new Memo[(DataFrame, DataFrame)]("pqPersist")

  private def persistedPqIndexFor(s: org.apache.spark.sql.SparkSession,
                                  dir: String): (DataFrame, DataFrame) =
    pqPersistMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val (books, codes) = pqIndexFor(s, dir)
        val path = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
        Similarity.savePqIndex(path, books, codes)
        Similarity.loadPqIndex(s, path)
      })

  /** Brute-force cosine top-5 for query ids 0..4 — the s01 oracle, and
    * the shared gate for every exact-mode ANN variant (exhaustive
    * parameters make the approximate pipelines structurally equal to
    * brute force, so their plumbing is DuckDB-verifiable).
    */
  private val bruteTopkSql =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
      |  FROM embeddings
      |), nrm AS (
      |  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n
      |  FROM e GROUP BY 1
      |), dots AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |         sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
      |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id <> b.vec_id
      |  WHERE a.vec_id IN (0, 1, 2, 3, 4)
      |  GROUP BY 1, 2
      |), ranked AS (
      |  SELECT qid, nid, dot / nq.n / nn.n AS cos,
      |         row_number() OVER (PARTITION BY qid
      |           ORDER BY dot / nq.n / nn.n DESC, nid ASC) AS rank
      |  FROM dots JOIN nrm nq ON nq.vec_id = qid JOIN nrm nn ON nn.vec_id = nid)
      |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(cos, 4) AS cos
      |FROM ranked WHERE rank <= 5 ORDER BY 1, 2""".stripMargin

  /** Jaccard duplicate-cluster memo per (session, dir): d09 and d10 share
    * the transitive closure (pair generation + star contraction is the
    * build-once artifact, same reasoning as pqMemo).
    */
  /** Seed indexes for the d45 corpus-gauntlet gate: fingerprint + MinHash
    * indexes over the corpus split, OWNED by d45 (the pipeline appends
    * its batch's survivor segment, so sharing d19's pristine index memo
    * would poison d19's verdicts). Replays overwrite segment b0 and the
    * cross-checks exclude it, so re-running the query (bench medians,
    * Verify) is idempotent by the streaming family's contract.
    */
  private val gauntletMemo = new Memo[(String, String, String)]("gauntlet")


  /** d45's composed verdict chain — the seed/batch fixture plus every
    * stage CTE (quality → exact cross → exact batch → near cross →
    * near batch → v_kept) — shared by the d45 verdict oracle and d79's
    * survivor-statistics oracle: ONE definition point, because d79's
    * exactness claim is precisely "the appended survivor set IS this
    * chain's v_kept" and two copies would be a divergence-in-waiting.
    */
  private def gauntletVerdictCtes: String =
    s"""WITH RECURSIVE seed AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
       |), batch AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 10000, text FROM documents
       |  WHERE doc_id % 5 <> 0 AND doc_id % 50 = 1
       |  UNION ALL
       |  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 50 = 0
       |  UNION ALL
       |  SELECT doc_id + 30000, text || ' xqz' FROM documents
       |  WHERE doc_id % 50 = 30
       |), v_q AS (
       |  SELECT doc_id FROM batch WHERE length(text) < 100
       |), rem1 AS (
       |  SELECT doc_id, text FROM batch WHERE length(text) >= 100
       |), bf AS (
       |  SELECT doc_id, $fpSql AS fp FROM rem1
       |), sf AS (
       |  SELECT doc_id, $fpSql AS fp FROM seed
       |), v_exc AS (
       |  SELECT b.doc_id, min(s.doc_id) AS ref
       |  FROM bf b JOIN sf s USING (fp) GROUP BY 1
       |), bf2 AS (
       |  SELECT * FROM bf WHERE doc_id NOT IN (SELECT doc_id FROM v_exc)
       |), keep2 AS (
       |  SELECT fp, min(doc_id) AS keeper FROM bf2 GROUP BY 1
       |), v_exb AS (
       |  SELECT b.doc_id, k.keeper AS ref
       |  FROM bf2 b JOIN keep2 k USING (fp) WHERE b.doc_id <> k.keeper
       |), rem3 AS (
       |  SELECT r.doc_id, r.text FROM rem1 r
       |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_exc)
       |    AND r.doc_id NOT IN (SELECT doc_id FROM v_exb)
       |), btri AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM rem3)
       |), bsz AS (SELECT doc_id, count(*) AS sz FROM btri GROUP BY 1),
       |stri AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM seed)
       |), ssz AS (SELECT doc_id, count(*) AS sz FROM stri GROUP BY 1),
       |xinter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
       |  FROM btri x JOIN stri y ON x.shingle = y.shingle GROUP BY 1, 2
       |), v_nx AS (
       |  SELECT a AS doc_id, min(b) AS ref
       |  FROM xinter JOIN bsz na ON na.doc_id = a JOIN ssz nb ON nb.doc_id = b
       |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
       |  GROUP BY 1
       |), rtri AS (
       |  SELECT * FROM btri WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
       |), iinter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
       |  FROM rtri x JOIN rtri y
       |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |), ipairs AS (
       |  SELECT a, b
       |  FROM iinter JOIN bsz na ON na.doc_id = a JOIN bsz nb ON nb.doc_id = b
       |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
       |), nodes AS (SELECT a AS id FROM ipairs UNION SELECT b FROM ipairs),
       |edges AS (SELECT a AS u, b AS v FROM ipairs UNION SELECT b, a FROM ipairs),
       |reach(id, l) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
       |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1),
       |v_nb AS (SELECT id AS doc_id, root AS ref FROM comp WHERE id <> root),
       |v_kept AS (
       |  SELECT doc_id FROM rem3
       |  WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
       |    AND doc_id NOT IN (SELECT doc_id FROM v_nb)
       |)""".stripMargin

  /** The τ-mix oracle CTE chain (derived Zipfian head, 9dp weight
    * rounding BEFORE the quota floor, md5-order rank) shared by every
    * mixing oracle — d42/d44 (clamped, target 300) and d76/d77/d80
    * (unclamped, target 1000): ONE definition point for the quota/rank
    * arithmetic, so the five oracles cannot drift from each other (the
    * gauntletVerdictCtes reasoning applied to the mixing family).
    */
  private def tauMixCtes(target: Int, clamped: Boolean): String = {
    val raw = s"CAST(floor($target.0 * round(pow(n, 0.5) /\n" +
      "      (SELECT sum(pow(n, 0.5)) FROM sz), 9)) AS BIGINT)"
    val quota = if (clamped) s"least(n, $raw)" else raw
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 < 7 THEN 'head' ELSE source END AS source
       |  FROM documents
       |), sz AS (
       |  SELECT source, count(*) AS n FROM d GROUP BY 1
       |), q AS (
       |  SELECT source, n, $quota AS quota
       |  FROM sz
       |), rk AS (
       |  SELECT source, doc_id, row_number() OVER (
       |    PARTITION BY source
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM d
       |)""".stripMargin
  }

  /** The upsampling continuation of [[tauMixCtes]] — exact copy counts
    * (c) and the per-copy epoch stream with its interleave okey (u) —
    * shared by d76/d77/d80.
    */
  private def upsampleCtes: String =
    tauMixCtes(1000, clamped = false) +
      """, c AS (
        |  SELECT source, doc_id, rk, n, quota,
        |    quota // n + CASE WHEN rk <= quota % n THEN 1 ELSE 0 END AS copies
        |  FROM rk JOIN q USING (source)
        |  WHERE quota // n + CASE WHEN rk <= quota % n THEN 1 ELSE 0 END > 0
        |), u AS (
        |  SELECT source, doc_id, rk, n, quota, epoch,
        |    (CAST((epoch - 1) * n + rk AS DOUBLE) - 0.5)
        |      / CAST(quota AS DOUBLE) AS okey
        |  FROM (SELECT *, unnest(generate_series(1, copies)) AS epoch FROM c)
        |)""".stripMargin

  /** d68's own verdict dir (the fp/mh indexes are SHARED with d45 via
    * [[gauntletPathsFor]] — both queries overwrite and exclude segment
    * b0, so their reads are independent of each other's appends).
    */
  private val nfcVMemo =
    new Memo[String]("nfcV")
  private def nfcVPathFor(s: org.apache.spark.sql.SparkSession,
                          dir: String): String =
    nfcVMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => java.nio.file.Files.createTempDirectory("graft-nfc-v").toString)

  private val trainedVMemo =
    new Memo[String]("trainedV")
  private def trainedVPathFor(s: org.apache.spark.sql.SparkSession,
                              dir: String): String =
    trainedVMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => java.nio.file.Files.createTempDirectory("graft-cls-v").toString)

  private def gauntletPathsFor(s: org.apache.spark.sql.SparkSession,
                               dir: String): (String, String, String) =
    gauntletMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val fp = java.nio.file.Files.createTempDirectory("graft-glt-fp").toString
        val mh = java.nio.file.Files.createTempDirectory("graft-glt-mh").toString
        val v = java.nio.file.Files.createTempDirectory("graft-glt-v").toString
        val seed = docs(s, dir).where(col("doc_id") % 5 =!= 0)
        graft.ext.FingerprintIndex.build(seed, fp)
        MinHashIndex.build(seed, mh, n = 3, k = 128, bands = 64)
        (fp, mh, v)
      })

  /** d45's planted delivery — the Spark-side twin of
    * [[gauntletVerdictCtes]]' `batch` CTE, shared by d45 and d79 (ONE
    * definition point, same reasoning as the chain itself).
    */
  private def gauntletBatch(d: DataFrame): DataFrame =
    d.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(d
        .where(col("doc_id") % 5 =!= 0 && col("doc_id") % 50 === 1)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionByName(d.where(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      .unionByName(d.where(col("doc_id") % 50 === 30)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"), lit(" xqz")).as("text")))

  /** d45's pipeline Config (length-100 quality gate, tau 0.5) — shared
    * with d79, whose oracle replays exactly these knobs.
    */
  private def gauntletConfig: graft.streaming.StreamingCorpusPipeline.Config =
    graft.streaming.StreamingCorpusPipeline.Config(tau = 0.5,
      quality = b => b.select(col("doc_id"),
        when(length(col("text")) >= 100, 1).otherwise(0).as("keep")))

  /** d79's seed memo: only the NgramIndex base build (over the seed
    * corpus) and the owned verdict dir are memoized — the gauntlet run
    * itself happens on EVERY invocation, exactly like d45, so a d79
    * bench sample prices the gauntlet + the stats accumulation, not a
    * cached read (replays overwrite segment b0 in every table by the
    * family contract, so repeats are idempotent). fp/mh are shared
    * with d45 — the d68 convention: every sharer overwrites AND
    * excludes segment b0, so reads are independent of each other's
    * appends.
    */
  private val ngGauntletMemo =
    new Memo[(String, String)]("ngGauntlet")

  private def ngGauntletTopkFor(s: org.apache.spark.sql.SparkSession,
                                dir: String): DataFrame = {
    val (ng, v) = ngGauntletMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val ng = java.nio.file.Files.createTempDirectory("graft-ngg-ng").toString
        val v = java.nio.file.Files.createTempDirectory("graft-ngg-v").toString
        graft.ext.NgramIndex.build(
          docs(s, dir).where(col("doc_id") % 5 =!= 0), ng, n = 2)
        (ng, v)
      })
    val (fp, mh, _) = gauntletPathsFor(s, dir)
    graft.streaming.StreamingCorpusPipeline.processBatch(
      gauntletBatch(docs(s, dir)), 0L, fp, mh, None, v, gauntletConfig,
      ngPath = Some(ng))
    graft.ext.NgramIndex.load(s, ng).topK(50)
  }

  /** Seed indexes for the d47 semantic-gauntlet gate: an EXACT-mode
    * SemanticIndex (nlist=1, plain cosine — the d21/d23 degeneracy)
    * over the embedding corpus split, plus fp/MinHash indexes over
    * derived two-word texts that can never match a batch doc (texts
    * are unique and too short to shingle), so the oracle models ONLY
    * the semantic stage while the engine runs the whole gauntlet.
    * Owned by d47 — the pipeline appends to these.
    */
  private val semGauntletMemo = new Memo[(String, String, String, String)]("semGauntlet")

  private def semGauntletPathsFor(s: org.apache.spark.sql.SparkSession,
                                  dir: String): (String, String, String, String) =
    semGauntletMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val fp = java.nio.file.Files.createTempDirectory("graft-sg-fp").toString
        val mh = java.nio.file.Files.createTempDirectory("graft-sg-mh").toString
        val sm = java.nio.file.Files.createTempDirectory("graft-sg-sem").toString
        val v = java.nio.file.Files.createTempDirectory("graft-sg-v").toString
        val seedEmb = emb(s, dir).where(col("vec_id") % 5 =!= 0)
        val seedDocs = seedEmb.select(col("vec_id").as("doc_id"),
          concat(lit("t "), col("vec_id").cast("string")).as("text"))
        graft.ext.FingerprintIndex.build(seedDocs, fp)
        MinHashIndex.build(seedDocs, mh)
        graft.ext.SemanticIndex.build(seedEmb, sm, nlist = 1,
          normalized = false)
        (fp, mh, sm, v)
      })

  /** Seed indexes for d49 (gauntlet with the contamination stage live):
    * d45's fp/mh seeds plus a SpanIndex over the derived bench set
    * (doc_id % 50 = 7, ≥ 300 chars). Owned by d49.
    */
  private val spanGauntletMemo = new Memo[(String, String, String, String)]("spanGauntlet")

  private def spanGauntletPathsFor(s: org.apache.spark.sql.SparkSession,
                                   dir: String): (String, String, String, String) =
    spanGauntletMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val fp = java.nio.file.Files.createTempDirectory("graft-spg-fp").toString
        val mh = java.nio.file.Files.createTempDirectory("graft-spg-mh").toString
        val sp = java.nio.file.Files.createTempDirectory("graft-spg-span").toString
        val v = java.nio.file.Files.createTempDirectory("graft-spg-v").toString
        val d = docs(s, dir)
        val seed = d.where(col("doc_id") % 5 =!= 0)
        graft.ext.FingerprintIndex.build(seed, fp)
        MinHashIndex.build(seed, mh, n = 3, k = 128, bands = 64)
        graft.ext.SpanIndex.build(
          d.where(col("doc_id") % 50 === 7 && length(col("text")) >= 300),
          sp)
        (fp, mh, sp, v)
      })

  /** The planted boilerplate lines for d62 (the line-cleaning gauntlet
    * gate): literal strings so the DuckDB oracle can name them, ≥ the
    * LineIndex minLen (15) so they are dedup-eligible, and never equal
    * to any fixture text (fixture lines are whole synthetic sentences).
    */
  private val LnBanner1 = "subscribe to our newsletter today"
  private val LnBanner2 = "accept all cookies to continue reading"

  /** Seed indexes for d62 (gauntlet with the LINE-CLEANING stage live):
    * d45's fp/mh seeds plus a LineIndex holding exactly the two banner
    * lines — so cleaned(batch doc) == the fixture text verbatim (fixture
    * texts are single-line and never equal a banner), which is what lets
    * the oracle reason about the downstream stages on `text` directly.
    * Owned by d62 (the pipeline appends survivor segments).
    */
  private val lineGauntletMemo = new Memo[(String, String, String, String)]("lineGauntlet")

  private def lineGauntletPathsFor(s: org.apache.spark.sql.SparkSession,
                                   dir: String): (String, String, String, String) =
    lineGauntletMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        import s.implicits._
        val fp = java.nio.file.Files.createTempDirectory("graft-lng-fp").toString
        val mh = java.nio.file.Files.createTempDirectory("graft-lng-mh").toString
        val ln = java.nio.file.Files.createTempDirectory("graft-lng-ln").toString
        val v = java.nio.file.Files.createTempDirectory("graft-lng-v").toString
        val seed = docs(s, dir).where(col("doc_id") % 5 =!= 0)
        graft.ext.FingerprintIndex.build(seed, fp)
        MinHashIndex.build(seed, mh, n = 3, k = 128, bands = 64)
        graft.ext.LineIndex.build(
          Seq((-1L, LnBanner1), (-2L, LnBanner2)).toDF("doc_id", "text"), ln)
        (fp, mh, ln, v)
      })

  private val clusterMemo = new Memo[DataFrame]("cluster")

  private def clustersFor(s: org.apache.spark.sql.SparkSession,
                          dir: String, tau: Double): DataFrame =
    clusterMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir:$tau",
      _ => {
        val df = Dedup.duplicateClusters(docs(s, dir), n = 3, tau = tau,
          shingled = Some(shinglesFor(s, dir, 3))).cache()
        df.count()
        df
      })

  /** Shingle-dictionary memo per (session, dir, n): the dedup family's
    * shared dominant input — d02/d03/d09/d10 all start from word trigrams
    * and d11 from 5-grams. HASHED to (id, h) longs (Dedup.hashShingles)
    * so every downstream shuffle moves 8-byte keys instead of n-gram
    * strings. Computing it once per corpus is the same build-once
    * reasoning as the ANN index memos; a real pipeline runs many dedup
    * strategies over ONE corpus and shares exactly this table.
    */
  private val shingleMemo = new Memo[DataFrame]("shingle")

  private def shinglesFor(s: org.apache.spark.sql.SparkSession,
                          dir: String, n: Int): DataFrame =
    shingleMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir:$n",
      _ => {
        // per-shingle doc frequency precomputed into the dictionary: the
        // frequency-cap filter in jaccardPairs/duplicateClusters then
        // costs nothing per query (one window pass here instead of one
        // per query)
        val df = Dedup.hashShingles(Dedup.shingles(docs(s, dir), n))
          .withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("h")))
          .cache()
        df.count()
        df
      })

  /** Char-gram position memo per (session, dir, k, prefix): the span
    * family's shared dominant input — d27/d28/d29 all start from the
    * same md5-prefix-sampled (id, i, g) position table, and re-md5-ing
    * ~100M overlapping substrings per operator was ~3 s each of the
    * bench's span block (the shingle-dictionary reasoning verbatim; a
    * real pipeline computes the gram sample once and derives every span
    * signal from it). Gram extraction is per-document, so d29's
    * train/bench slices filter this one table.
    */
  private val gramPosMemo = new Memo[DataFrame]("gramPos")

  private def gramPositionsFor(s: org.apache.spark.sql.SparkSession,
                               dir: String, k: Int,
                               prefix: String): DataFrame =
    gramPosMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir:$k:$prefix",
      _ => {
        val df = Dedup.charGramPositions(docs(s, dir), k, prefix).cache()
        df.count()
        df
      })

  /** Diagonal-runs memo per (session, dir): the span family's shared
    * analytic product over the memoized position table — the gram
    * self-join underneath is the family's dominant cost, and d28
    * (extents) + d30 (removal) both reduce from exactly this table.
    */
  private val gramRunsMemo = new Memo[DataFrame]("gramRuns")

  private def gramRunsFor(s: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame =
    gramRunsMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val df = Dedup.charGramRuns(docs(s, dir), k = 16, prefix = "0",
            minShared = 2, maxGramFreq = 200, maxGap = 64,
            positions = Some(gramPositionsFor(s, dir, 16, "0")))
          .cache()
        df.count()
        df
      })

  /** Cross-table (train × bench) diagonal-runs memo per (session, dir):
    * the decontamination family's shared candidate product — d29's span
    * reduce and d37's exactify verify both consume exactly this table
    * (same sampling, caps, and slices), and the gram cross-join under
    * it was each row's dominant recomputed stage (sst: ~0.6 s in d29 +
    * ~1.2 s in d37 per run). The gramRunsFor reasoning verbatim: one
    * corpus, many span signals, one candidate table.
    */
  private val gramRunsAgainstMemo = new Memo[DataFrame]("gramRunsAgainst")

  private def gramRunsAgainstFor(s: org.apache.spark.sql.SparkSession,
                                 dir: String): DataFrame =
    gramRunsAgainstMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val d = docs(s, dir)
        val pos = gramPositionsFor(s, dir, 16, "0")
        val df = Dedup.charGramRunsAgainst(
            d.where(col("doc_id") % 20 =!= 0),
            d.where(col("doc_id") % 20 === 0),
            k = 16, prefix = "0", minShared = 2, maxGramFreq = 200,
            maxGap = 64,
            trainPositions = Some(pos.where(col("id") % 20 =!= 0)),
            benchPositions = Some(pos.where(col("id") % 20 === 0)))
          .cache()
        df.count()
        df
      })

  /** EXACT diagonal-runs memo per (session, dir): [[Dedup.exactGramRuns]]
    * — every gram, strictly consecutive runs — shared by the exact span
    * queries (d35 extents + d36 removal) the way [[gramRunsFor]] serves
    * the sampled family. Positions are NOT shared with [[gramPositionsFor]]:
    * that table is prefix-"0" filtered AND md5-keyed; the exact path
    * takes every position with RAW substring keys (no sampling → the
    * hash buys nothing). The r13 warm fold: the full-corpus capped
    * position table is persisted for the build's duration so the gram
    * self-join's two branches read it instead of each recomputing
    * extraction + occ window + df join (exactRuns was 39.3 s of the
    * 102 s warm build; the doubled lineage plus one md5 per corpus
    * character was most of it), then UNPERSISTED — only the small runs
    * table stays cached, so the warm memory bound is untouched.
    */
  private val exactRunsMemo = new Memo[DataFrame]("exactRuns")

  private def exactRunsFor(s: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame =
    exactRunsMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val capped = Dedup.cappedGramPositions(
            Dedup.rawGramPositions(docs(s, dir), k = 16))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val df = Dedup.exactGramRuns(docs(s, dir), k = 16, minShared = 1,
            maxGramFreq = 200, capped = Some(capped))
          .cache()
        df.count()
        Frames.release(capped)
        df
      })

  /** d81's seed memo: the PRIORITIZED MinHash index over the crawl seed
    * (prio 1) + the owned verdict dir. The two-batch election run
    * happens on EVERY invocation (the d79 convention — processBatch
    * overwrites its own segments and verdict dirs, so repeats are
    * idempotent and a bench sample prices the real two-batch election
    * pipeline, not a cached read).
    */
  private val prioStreamMemo =
    new Memo[(String, String)]("prioStream")

  private def prioStreamVerdictsFor(s: org.apache.spark.sql.SparkSession,
                                    dir: String): DataFrame = {
    val d = docs(s, dir)
    val (idxP, vP) = prioStreamMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val idxP = java.nio.file.Files.createTempDirectory("graft-psd-idx").toString
        val vP = java.nio.file.Files.createTempDirectory("graft-psd-v").toString
        MinHashIndex.build(
          d.where(col("doc_id") % 5 =!= 0)
            .select(col("doc_id"), col("text"), lit(1.0).as("prio")),
          idxP, prioCol = Some("prio"))
        (idxP, vP)
      })
    // batch 0: an ordinary crawl delivery (equal priorities — the
    // election must reproduce min-id semantics exactly)
    val b0 = d.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), lit(1.0).as("prio"))
    // batch 1: late-arriving CURATED clones of indexed seed docs (+1e5,
    // prio 0 — kept despite the indexed copy, the no-rewrite rule);
    // novel reversed-text pairs where the curated copy has the LARGER
    // id (+2e5 crawl / +3e5 curated — the in-batch election must beat
    // min-id); crawl re-deliveries of seed docs (+4e5 — cross-drop with
    // the (prio, id)-min election's dup_of)
    val b1 = d.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
        lit(0.0).as("prio"))
      .unionByName(d.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 11 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          reverse(col("text")).as("text"), lit(1.0).as("prio")))
      .unionByName(d.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 11 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          reverse(col("text")).as("text"), lit(0.0).as("prio")))
      .unionByName(d.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 13 === 0)
        .select((col("doc_id") + 400000L).as("doc_id"), col("text"),
          lit(1.0).as("prio")))
    graft.streaming.StreamingDedup.processBatch(b0, 0L, idxP, vP,
      tau = 0.5, prioCol = Some("prio"))
    graft.streaming.StreamingDedup.processBatch(b1, 1L, idxP, vP,
      tau = 0.5, prioCol = Some("prio"))
    s.read.option("basePath", vP).parquet(s"$vP/batch=0", s"$vP/batch=1")
  }

  /** d82's seed memo: prioritized fp + MinHash indexes over the crawl
    * seed (prio 1) + the owned verdict dir; the two-batch gauntlet run
    * happens on every invocation (the d79/d81 idempotent-replay
    * convention).
    */
  private val prioGauntletMemo =
    new Memo[(String, String, String)]("prioGauntlet")

  private def prioGauntletVerdictsFor(s: org.apache.spark.sql.SparkSession,
                                      dir: String): DataFrame = {
    val d = docs(s, dir)
    val (fpP, mhP, vP) = prioGauntletMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val fpP = java.nio.file.Files.createTempDirectory("graft-pg-fp").toString
        val mhP = java.nio.file.Files.createTempDirectory("graft-pg-mh").toString
        val vP = java.nio.file.Files.createTempDirectory("graft-pg-v").toString
        val seed = d.where(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), col("text"), lit(1.0).as("prio"))
        graft.ext.FingerprintIndex.build(seed, fpP, prioCol = Some("prio"))
        MinHashIndex.build(seed, mhP, prioCol = Some("prio"))
        (fpP, mhP, vP)
      })
    val cfg = gauntletConfig.copy(prioCol = Some("prio"))
    // batch 0: an ordinary crawl delivery through quality + both dedup
    // stages (equal priorities — the election must reproduce min-id)
    val b0 = d.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"), lit(1.0).as("prio"))
    // batch 1, planted so every election face binds: +1e5 trusted
    // exact clones of indexed docs (kept at BOTH cross stages);
    // +2e5/+3e5 novel near-dup pairs where the curated copy has the
    // larger id (near in-batch election beats min-id); +4e5 crawl
    // exact re-deliveries (exact-cross drop, elected ref); +5e5
    // trusted near-clones of indexed docs (kept at near cross); +6e5
    // crawl near-clones (near-cross drop, elected ref); +7e5/+8e5
    // novel IDENTICAL pairs, curated id larger (exact in-batch
    // election beats min-id)
    def slice(m: Int, off: Long, prio: Double, text: org.apache.spark.sql.Column) =
      d.where(col("doc_id") % 5 =!= 0 && col("doc_id") % m === 0)
        .select((col("doc_id") + off).as("doc_id"), text.as("text"),
          lit(prio).as("prio"))
    val b1 = slice(7, 100000L, 0.0, col("text"))
      .unionByName(slice(11, 200000L, 1.0, reverse(col("text"))))
      .unionByName(slice(11, 300000L, 0.0,
        concat(reverse(col("text")), lit(" qq"))))
      .unionByName(slice(13, 400000L, 1.0, col("text")))
      .unionByName(slice(17, 500000L, 0.0, concat(col("text"), lit(" zz"))))
      .unionByName(slice(19, 600000L, 1.0, concat(col("text"), lit(" vv"))))
      .unionByName(slice(23, 700000L, 1.0,
        concat(reverse(col("text")), lit(" mm"))))
      .unionByName(slice(23, 800000L, 0.0,
        concat(reverse(col("text")), lit(" mm"))))
    graft.streaming.StreamingCorpusPipeline.processBatch(
      b0, 0L, fpP, mhP, None, vP, cfg)
    graft.streaming.StreamingCorpusPipeline.processBatch(
      b1, 1L, fpP, mhP, None, vP, cfg)
    s.read.option("basePath", vP).parquet(s"$vP/batch=0", s"$vP/batch=1")
  }

  /** Unigram-LM memo per (session, dir): trained once on the corpus
    * slice (doc_id % 5 != 0) — a model is a build-once artifact, and
    * [[graft.ext.TextAnalysis.unigramLm]] is eager (two counting jobs).
    */
  private val lmMemo = new Memo[graft.ext.TextAnalysis.UnigramLm]("lm")

  private def lmFor(s: org.apache.spark.sql.SparkSession,
                    dir: String): graft.ext.TextAnalysis.UnigramLm =
    lmMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => TextAnalysis.unigramLm(docs(s, dir).where(col("doc_id") % 5 =!= 0)))

  private val lm2Memo = new Memo[graft.ext.TextAnalysis.BigramLm]("lm2")

  private def lm2For(s: org.apache.spark.sql.SparkSession,
                     dir: String): graft.ext.TextAnalysis.BigramLm =
    lm2Memo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => TextAnalysis.bigramLm(docs(s, dir).where(col("doc_id") % 5 =!= 0)))

  private val lm3Memo = new Memo[graft.ext.TextAnalysis.TrigramLm]("lm3")

  /** Trigram-LM memo per (session, dir) — t22's build-once model over
    * the same %5 training slice as t11/t13. λ3=0.5, λ2=0.25 keep every
    * mixture weight an exact dyadic double on both engines.
    */
  private def lm3For(s: org.apache.spark.sql.SparkSession,
                     dir: String): graft.ext.TextAnalysis.TrigramLm =
    lm3Memo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => TextAnalysis.trigramLm(docs(s, dir).where(col("doc_id") % 5 =!= 0),
        l3 = 0.5, l2 = 0.25))

  private val clsMemo = new Memo[graft.ext.TextAnalysis.LinearModel]("cls")

  /** t28's trained-once classifier per (session, dir): one ORDERED GD
    * step (lr = 0.5, an exact dyadic double) from the zero model on the
    * %3==0-vs-%3==1 slices with the md5-60bit portable hash — the
    * depth-1 exactly-gateable train (σ(0) = 1/2, no transcendental).
    */
  private def classifierFor(s: org.apache.spark.sql.SparkSession,
                            dir: String): graft.ext.TextAnalysis.LinearModel =
    clsMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val d = docs(s, dir)
        TextAnalysis.trainLinear(
          d.where(col("doc_id") % 3 === 0), d.where(col("doc_id") % 3 === 1),
          dim = 64, steps = 1, lr = 0.5, hasher = Dedup.md5Hash60,
          ordered = true)
      })

  /** MinHash-signature memo per (session, dir, n, k) — d03's second
    * build-once artifact over the memoized shingle table.
    */
  private val sigMemo = new Memo[DataFrame]("sig")

  private def minhashSigsFor(s: org.apache.spark.sql.SparkSession,
                             dir: String, n: Int, k: Int): DataFrame =
    sigMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir:$n:$k",
      _ => {
        val df = Dedup.minhashSignatures(shinglesFor(s, dir, n), k).cache()
        df.count()
        df
      })

  /** Hyperplane-LSH index memo per (session, dir, planes, tables): the
    * (normalized corpus, bucket table) pair d06 rebuilds per run was the
    * slowest bench query's dominant cost — bucketing is planes×tables
    * dot products per row.
    */
  private val lshMemo = new Memo[(DataFrame, DataFrame)]("lsh")

  private def lshIndexFor(s: org.apache.spark.sql.SparkSession, dir: String,
                          planes: Int, tables: Int): (DataFrame, DataFrame) =
    lshMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir:$planes:$tables",
      _ => {
        val c = Similarity.corpusNormalized(emb(s, dir)).cache()
        val bucketed =
          Similarity.bucketCorpus(c, planes, tables).select("id", "bucket").cache()
        bucketed.count()
        (c, bucketed)
      })

  private val fpSql =
    "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))"

  /** IVF index built on the corpus split (vec_id % 5 != 0), then the
    * batch split appended WITHOUT retraining ([[Similarity.appendIvfIndex]])
    * and reloaded — s11 probes every cell so the incremental-growth
    * plumbing sits under the brute-force oracle.
    */
  private val ivfAppendMemo = new Memo[(DataFrame, DataFrame)]("ivfAppend")

  private def appendedIvfIndexFor(s: org.apache.spark.sql.SparkSession,
                                  dir: String): (DataFrame, DataFrame) =
    ivfAppendMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
        val base = emb(s, dir).where(col("vec_id") % 5 =!= 0)
        val c = Similarity.corpus(base)
        val cents = Similarity.ivfCentroids(c, nlist = 8).cache()
        Similarity.saveIvfIndex(path, cents, Similarity.ivfMembership(c, cents))
        Similarity.appendIvfIndex(path,
          emb(s, dir).where(col("vec_id") % 5 === 0), seg = "delta")
        Similarity.loadIvfIndex(s, path)
      })

  /** PQ twin of [[appendedIvfIndexFor]]: codebooks trained on the corpus
    * split, the batch split encoded against the FROZEN books
    * ([[Similarity.appendPqIndex]]) and reloaded — s12's exhaustive
    * shortlist + exact rerank make the grown index structurally brute
    * force, so the append/encode plumbing is value-gated.
    */
  private val pqAppendMemo = new Memo[(DataFrame, DataFrame)]("pqAppend")

  private def appendedPqIndexFor(s: org.apache.spark.sql.SparkSession,
                                 dir: String): (DataFrame, DataFrame) =
    pqAppendMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-pqapp").toString
        val (books, codes) = Similarity.pqIndex(
          emb(s, dir).where(col("vec_id") % 5 =!= 0))
        Similarity.savePqIndex(path, books, codes)
        Similarity.appendPqIndex(path,
          emb(s, dir).where(col("vec_id") % 5 === 0), ixseg = "delta")
        Similarity.loadPqIndex(s, path)
      })

  /** Persisted MinHash index over the CORPUS split (doc_id % 5 != 0),
    * built into a temp dir and round-tripped through load — d19 then
    * dedups the BATCH split (doc_id % 5 = 0) against it, so the
    * build/save/load/cross-dedup plumbing is all under the exact oracle
    * (the pqPersistMemo precedent). k=128/bands=64 keeps d03's
    * effectively-exact candidate recall; exact verification fixes
    * precision.
    */
  private val mhIdxMemo = new Memo[MinHashIndex]("mhIdx")

  private def mhIndexFor(s: org.apache.spark.sql.SparkSession,
                         dir: String): MinHashIndex =
    mhIdxMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
        MinHashIndex.build(docs(s, dir).where(col("doc_id") % 5 =!= 0), path,
          n = 3, k = 128, bands = 64)
        MinHashIndex.load(s, path)
      })

  /** Compacted twin of [[mhIndexFor]]: the corpus split lands in three
    * slices (base + two appended segments) and the segments are then
    * FOLDED into base ([[MinHashIndex.compact]]) before d20 dedups the
    * batch split against the reloaded index. Index content equals
    * [[mhIndexFor]]'s exactly, so d19's oracle gates the fold: a row
    * lost, doubled, or mis-partitioned by compaction flips a verdict.
    */
  private val mhCompactIdxMemo = new Memo[MinHashIndex]("mhCompactIdx")

  private def mhCompactedIndexFor(s: org.apache.spark.sql.SparkSession,
                                  dir: String): MinHashIndex =
    mhCompactIdxMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-mhcidx").toString
        val corpus = docs(s, dir).where(col("doc_id") % 5 =!= 0)
        MinHashIndex.build(corpus.where(col("doc_id") % 3 === 0), path,
          n = 3, k = 128, bands = 64)
        val idx = MinHashIndex.load(s, path)
        idx.append(corpus.where(col("doc_id") % 3 === 1), seg = "b0")
        idx.append(corpus.where(col("doc_id") % 3 === 2), seg = "b1")
        require(idx.compact(Seq("b0", "b1")).sorted == Seq("b0", "b1"),
          "d20 gate: both appended segments must fold")
        MinHashIndex.load(s, path)
      })

  /** Session-memoized (id, vec, cell) cluster assignment for d22 — the
    * build-once artifact its within-cell self-join reads twice (the
    * lshIndexFor/IVF-index precedent; without it each join side re-runs
    * normalize + k-means scoring over the corpus).
    */
  private val semAssignMemo = new Memo[DataFrame]("semAssign")

  private def semAssignFor(s: org.apache.spark.sql.SparkSession,
                           dir: String, nlist: Int): DataFrame =
    semAssignMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir:$nlist",
      _ => Dedup.clusterAssignment(emb(s, dir), nlist).cache())

  /** Session-memoized [[graft.ext.FingerprintIndex]] over the corpus
    * split, built as base + one appended segment then COMPACTED and
    * reloaded — d26's oracle gates the whole lifecycle.
    */
  private val fpIdxMemo = new Memo[graft.ext.FingerprintIndex]("fpIdx")

  private def fpIndexFor(s: org.apache.spark.sql.SparkSession,
                         dir: String): graft.ext.FingerprintIndex =
    fpIdxMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-fpidx").toString
        val corpus = docs(s, dir).where(col("doc_id") % 5 =!= 0)
        graft.ext.FingerprintIndex.build(
          corpus.where(col("doc_id") % 2 === 0), path)
        val idx = graft.ext.FingerprintIndex.load(s, path)
        idx.append(corpus.where(col("doc_id") % 2 =!= 0), seg = "b0")
        require(idx.compact(Seq("b0")) == Seq("b0"),
          "d26 gate: the appended segment must fold")
        graft.ext.FingerprintIndex.load(s, path)
      })

  /** d63's Bloom-gated twin of [[fpIndexFor]]: same corpus split and
    * build → append → fold → reload lifecycle, but with the per-segment
    * Bloom sidecars on — so the gate's sidecar maintenance (append
    * write, compaction rebuild) sits under d26's exact value oracle.
    */
  private def fpBloomIndexFor(s: org.apache.spark.sql.SparkSession,
                              dir: String): graft.ext.FingerprintIndex =
    fpIdxMemo.computeIfAbsent(
      s"bloom:${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-fpbloom").toString
        val corpus = docs(s, dir).where(col("doc_id") % 5 =!= 0)
        graft.ext.FingerprintIndex.build(
          corpus.where(col("doc_id") % 2 === 0), path, bloom = true)
        val idx = graft.ext.FingerprintIndex.load(s, path)
        idx.append(corpus.where(col("doc_id") % 2 =!= 0), seg = "b0")
        require(idx.compact(Seq("b0")) == Seq("b0"),
          "d63 gate: the appended segment must fold")
        graft.ext.FingerprintIndex.load(s, path)
      })

  /** Span-decontamination index memo per (session, dir): built over the
    * benchmark slice, SAVED to parquet, then RELOADED — d31 runs the
    * full build → persist → load → check lifecycle, like d19/d23/d26.
    */
  private val spanIdxMemo = new Memo[graft.ext.SpanIndex]("spanIdx")

  private def spanIndexFor(s: org.apache.spark.sql.SparkSession,
                           dir: String): graft.ext.SpanIndex =
    spanIdxMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-spanidx").toString
        graft.ext.SpanIndex.build(
          docs(s, dir).where(col("doc_id") % 20 === 0), path)
        graft.ext.SpanIndex.load(s, path)
      })

  /** d85's kitchen-sink seed: EVERY index the pipeline can take, built
    * over the %5≠0 seed at prio 1.0 — fingerprints WITH Bloom sidecars
    * (the gate is live), MinHash, winnow, the banner LineIndex, the
    * %50==7 eval-set SpanIndex, the nlist=1 semantic index over the
    * seed embeddings (exact mode — d47's oracle-checkable contract),
    * and an NgramIndex side-accumulator. One build per (session, dir);
    * priced in `warm`.
    */
  private val capstoneMemo =
    new Memo[(String, String, String, String, String, String, String, String)](
      "capstone")

  private def capstonePathsFor(s: org.apache.spark.sql.SparkSession, dir: String)
      : (String, String, String, String, String, String, String, String) =
    capstoneMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        import s.implicits._
        def tmp(n: String) =
          java.nio.file.Files.createTempDirectory(s"graft-cap-$n").toString
        val (fp, mh, sp, sm, wn, ln, ng, v) =
          (tmp("fp"), tmp("mh"), tmp("span"), tmp("sem"), tmp("win"),
            tmp("ln"), tmp("ng"), tmp("v"))
        val d = docs(s, dir)
        val seed = d.where(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), col("text"), lit(1.0).as("prio"))
        graft.ext.FingerprintIndex.build(seed, fp, bloom = true,
          prioCol = Some("prio"))
        MinHashIndex.build(seed, mh, n = 3, k = 128, bands = 64,
          prioCol = Some("prio"))
        graft.ext.WinnowIndex.build(seed, wn, prioCol = Some("prio"))
        graft.ext.LineIndex.build(
          Seq((-1L, LnBanner1), (-2L, LnBanner2)).toDF("doc_id", "text"), ln)
        graft.ext.SpanIndex.build(
          d.where(col("doc_id") % 50 === 7 && length(col("text")) >= 300), sp)
        graft.ext.SemanticIndex.build(
          emb(s, dir).where(col("vec_id") % 5 =!= 0), sm, nlist = 1,
          normalized = false)
        graft.ext.NgramIndex.build(
          seed.select(col("doc_id"), col("text")), ng)
        (fp, mh, sp, sm, wn, ln, ng, v)
      })

  /** Multi-benchmark registry memo per (session, dir): two named eval
    * sets ("qa" = doc_id%20, "exams" = doc_id%30 — overlapping at %60)
    * registered at v1, so d84's combined check attributes leaks per
    * suite. Build-once artifact like spanIdxMemo; priced in `warm`.
    */
  private val benchRegMemo = new Memo[graft.ext.BenchmarkRegistry]("benchReg")

  private def benchRegFor(s: org.apache.spark.sql.SparkSession,
                          dir: String): graft.ext.BenchmarkRegistry =
    benchRegMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-benchreg").toString
        val reg = graft.ext.BenchmarkRegistry.create(s, path)
        val d = docs(s, dir)
        reg.register("qa", "v1", d.where(col("doc_id") % 20 === 0))
        reg.register("exams", "v1", d.where(col("doc_id") % 30 === 0))
        graft.ext.BenchmarkRegistry.load(s, path)
      })

  /** d87's registry memo: same build as [[benchRegFor]], then "qa" is
    * RE-registered at v2 with halved membership (doc_id%40) — the
    * versioning-by-replacement path (stable slot, replaced index
    * directory) exercised on the fixture between deliveries.
    */
  private val benchRegV2Memo = new Memo[graft.ext.BenchmarkRegistry]("benchRegV2")

  private def benchRegV2For(s: org.apache.spark.sql.SparkSession,
                            dir: String): graft.ext.BenchmarkRegistry =
    benchRegV2Memo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-benchreg2").toString
        val reg = graft.ext.BenchmarkRegistry.create(s, path)
        val d = docs(s, dir)
        reg.register("qa", "v1", d.where(col("doc_id") % 20 === 0))
        reg.register("exams", "v1", d.where(col("doc_id") % 30 === 0))
        reg.register("qa", "v2", d.where(col("doc_id") % 40 === 0))
        graft.ext.BenchmarkRegistry.load(s, path)
      })

  /** d84/d87's shared train side: three leak classes planted against
    * the qa(%20)/exams(%30) suites — a qa-only clone (+700000), an
    * exams-only clone (+800000), and a clone of a doc in BOTH sets
    * (+900000) that must attribute to both.
    */
  private def multibenchTrain(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    val d = docs(s, dir)
    d.where(col("doc_id") % 20 =!= 0 && col("doc_id") % 30 =!= 0)
      .select(col("doc_id"), col("text"))
      .unionByName(d.where(col("doc_id") % 20 === 0 && col("doc_id") % 30 =!= 0)
        .select((col("doc_id") + 700000L).as("doc_id"), col("text")))
      .unionByName(d.where(col("doc_id") % 30 === 0 && col("doc_id") % 20 =!= 0)
        .select((col("doc_id") + 800000L).as("doc_id"), col("text")))
      .unionByName(d.where(col("doc_id") % 60 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"), col("text")))
  }

  /** d84/d87's shared DuckDB oracle: the whole multi-set attribution
    * chain (prefix-sampled 16-grams, per-set occurrence caps, train df
    * cap, diagonal runs, per-char exactify closure, set-qualified
    * partitions) with the qa suite's MEMBERSHIP predicate and VERSION
    * label injected — d84 checks the v1 registry, d87 the re-registered
    * one; exams stays v1 in both so its rows must come out identical.
    * No backslashes or stray `$` live in the body, so s-interpolation
    * is escape-safe here.
    */
  private def multibenchSql(qaPred: String, qaVer: String): String =
    s"""WITH train AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0 AND doc_id % 30 <> 0
       |  UNION ALL
       |  SELECT doc_id + 700000, text FROM documents WHERE doc_id % 20 = 0 AND doc_id % 30 <> 0
       |  UNION ALL
       |  SELECT doc_id + 800000, text FROM documents WHERE doc_id % 30 = 0 AND doc_id % 20 <> 0
       |  UNION ALL
       |  SELECT doc_id + 900000, text FROM documents WHERE doc_id % 60 = 0
       |), bench AS (
       |  SELECT 'qa' AS bset, doc_id, text FROM documents WHERE $qaPred
       |  UNION ALL
       |  SELECT 'exams' AS bset, doc_id, text FROM documents WHERE doc_id % 30 = 0
       |), tg AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
       |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
       |  FROM train, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
       |), tp AS (
       |  SELECT doc_id, i, g FROM tg WHERE g LIKE '0%'
       |), bg AS (
       |  SELECT bset, doc_id, CAST(u.i AS BIGINT) AS i,
       |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
       |  FROM bench, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
       |), bp AS (
       |  SELECT bset, doc_id, i, g FROM (
       |    SELECT bset, doc_id, i, g,
       |           row_number() OVER (PARTITION BY bset, g, doc_id ORDER BY i) AS occ
       |    FROM bg WHERE g LIKE '0%')
       |  WHERE occ <= 8
       |), rare AS (
       |  SELECT g FROM (
       |    SELECT g, count(DISTINCT doc_id) AS df FROM tp GROUP BY 1)
       |  WHERE df <= 200
       |), capped AS (
       |  SELECT doc_id, i, g FROM (
       |    SELECT tp.doc_id, tp.i, tp.g,
       |           row_number() OVER (PARTITION BY tp.g, tp.doc_id ORDER BY tp.i) AS occ
       |    FROM tp JOIN rare USING (g))
       |  WHERE occ <= 8
       |), m AS (
       |  SELECT x.doc_id AS a, y.bset, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
       |  FROM capped x JOIN bp y ON x.g = y.g
       |), r AS (
       |  SELECT a, bset, b, d, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, bset, b, d ORDER BY pos) > 64
       |              THEN 1 ELSE 0 END AS brk
       |  FROM m
       |), r2 AS (
       |  SELECT a, bset, b, d, pos,
       |         sum(brk) OVER (PARTITION BY a, bset, b, d ORDER BY pos
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM r
       |), sruns AS (
       |  SELECT a, bset, b, d, min(pos) AS sa, max(pos) - min(pos) + 16 AS ext
       |  FROM r2 GROUP BY a, bset, b, d, run HAVING count(*) >= 2
       |), diag AS (
       |  SELECT DISTINCT a, bset, b, d FROM sruns
       |), ap AS (
       |  SELECT dg.a, dg.bset, dg.b, dg.d, CAST(u.p AS BIGINT) AS pos
       |  FROM diag dg
       |  JOIN train da ON da.doc_id = dg.a
       |  JOIN bench db ON db.doc_id = dg.b AND db.bset = dg.bset,
       |  UNNEST(range(greatest(1, dg.d + 1),
       |               least(length(da.text), length(db.text) + dg.d) + 1)) AS u(p)
       |  WHERE substr(da.text, CAST(u.p AS INTEGER), 1) =
       |        substr(db.text, CAST(u.p - dg.d AS INTEGER), 1)
       |), er AS (
       |  SELECT a, bset, b, d, pos,
       |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, bset, b, d ORDER BY pos) > 1
       |              THEN 1 ELSE 0 END AS brk
       |  FROM ap
       |), er2 AS (
       |  SELECT a, bset, b, d, pos,
       |         sum(brk) OVER (PARTITION BY a, bset, b, d ORDER BY pos
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       |  FROM er
       |), eruns AS (
       |  SELECT a, bset, b, d, min(pos) AS sa, max(pos) - min(pos) + 1 AS ext
       |  FROM er2 GROUP BY a, bset, b, d, run
       |)
       |SELECT e.a AS doc_id, e.bset AS bench_set,
       |       CASE WHEN e.bset = 'qa' THEN '$qaVer' ELSE 'v1' END AS bench_version,
       |       CAST(e.b AS BIGINT) AS bench_id,
       |       CAST(max(e.ext) AS BIGINT) AS span,
       |       CAST(count(*) AS BIGINT) AS nruns
       |FROM eruns e
       |WHERE e.ext >= 16 AND EXISTS (
       |  SELECT 1 FROM sruns s
       |  WHERE s.a = e.a AND s.bset = e.bset AND s.b = e.b AND s.d = e.d
       |    AND e.sa < s.sa + s.ext + 64 AND s.sa - 64 < e.sa + e.ext)
       |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 4""".stripMargin

  /** Line-dedup index memo per (session, dir): built over the lined
    * history slice as base + one appended segment then COMPACTED and
    * reloaded (the fpIndexFor fold pattern) — d33 value-gates the whole
    * build → append → fold → reload → clean lifecycle.
    */
  private val lineIdxMemo = new Memo[graft.ext.LineIndex]("lineIdx")

  /** Session-memoized n-gram statistics index for d75, exercising the
    * full build → append → fold → append → reload lifecycle so the
    * oracle gates every segment path (the lineIndexFor precedent).
    */
  private val ngramIdxMemo = new Memo[graft.ext.NgramIndex]("ngramIdx")

  private def ngramIndexFor(s: org.apache.spark.sql.SparkSession,
                            dir: String): graft.ext.NgramIndex =
    ngramIdxMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-ngramidx").toString
        val d = docs(s, dir)
        val hist = d.where(col("doc_id") % 5 =!= 0)
        graft.ext.NgramIndex.build(
          hist.where(col("doc_id") % 2 === 0), path, n = 2)
        val idx = graft.ext.NgramIndex.load(s, path)
        idx.append(hist.where(col("doc_id") % 2 =!= 0), seg = "b0")
        require(idx.compact(Seq("b0")) == Seq("b0"),
          "d75 gate: the appended segment must fold")
        idx.append(d.where(col("doc_id") % 5 === 0), seg = "b1")
        graft.ext.NgramIndex.load(s, path)
      })

  /** Session-memoized STREAMING ngram-stats run for d78: the turnkey
    * wrapper's batch hook drives two deliveries over a seeded index —
    * including a full REPLAY of the first delivery (foreachBatch is
    * at-least-once), so overwrite-per-segment exactly-once is what the
    * whole-corpus oracle gates. Snapshots land per delivery; d78 reads
    * the final corpus-wide top-K.
    */
  private val ngramStreamMemo = new Memo[String]("ngramStream")

  private def ngramStreamFor(s: org.apache.spark.sql.SparkSession,
                             dir: String): graft.ext.NgramIndex = {
    val path = ngramStreamMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val p = java.nio.file.Files.createTempDirectory("graft-ngramstream").toString
        val snap = java.nio.file.Files.createTempDirectory("graft-ngramsnap").toString
        val d = docs(s, dir)
        graft.ext.NgramIndex.build(
          d.where(col("doc_id") % 2 === 0), p, n = 2)
        val b0 = d.where(col("doc_id") % 2 =!= 0 && col("doc_id") % 4 === 1)
        val b1 = d.where(col("doc_id") % 2 =!= 0 && col("doc_id") % 4 === 3)
        graft.streaming.StreamingNgramStats.processBatch(
          b0, 0L, p, snapshotPath = Some(snap))
        graft.streaming.StreamingNgramStats.processBatch(
          b0, 0L, p, snapshotPath = Some(snap)) // at-least-once replay
        graft.streaming.StreamingNgramStats.processBatch(
          b1, 1L, p, snapshotPath = Some(snap))
        p
      })
    graft.ext.NgramIndex.load(s, path)
  }

  private def linedDocs(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame =
    docs(s, dir).withColumn("text",
      regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1\n"))

  /** t14's enriched fixture: [[linedDocs]] plus deterministic bullet
    * lines (lines starting 'a'), `#` symbols (the word "hash"),
    * line-final ellipses (lines ending 'e'), and a second Gopher
    * stopword ("data" → "of"; the fixture vocabulary only contains
    * "the") — so every Gopher rule is load-bearing over a fixture that
    * natively has none of them. Same four regex rewrites on both
    * engines.
    */
  private def gopherDocs(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame =
    linedDocs(s, dir).withColumn("text",
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), "(^|\\n)a", "$1- a"),
            "\\bhash\\b", "#"),
          "\\bdata\\b", "of"),
        "e(\\n|$)", "e...$1"))

  /** t23's enriched fixture: [[linedDocs]] plus deterministic C4
    * triggers — "dup" → "lorem ipsum" (5% of docs carry the rare word:
    * page drop), a brace spliced into docs STARTING with "batch" (~3%:
    * page drop), "sort" at line starts → "javascript" (line drop), and
    * terminal punctuation for lines ending 'e' ('.') or 't' ('!') so
    * the retention rule keeps a real subset. Same five regex rewrites
    * on both engines, applied in the same order.
    */
  private def c4Docs(s: org.apache.spark.sql.SparkSession,
                     dir: String): org.apache.spark.sql.DataFrame =
    linedDocs(s, dir).withColumn("text",
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), "\\bdup\\b", "lorem ipsum"),
              "^batch", "batch {"),
            "(^|\\n)sort", "$1javascript"),
          "e(\\n|$)", "e.$1"),
        "t(\\n|$)", "t!$1"))

  private val winnowIdxMemo = new Memo[graft.ext.WinnowIndex]("winnowIdx")

  /** d60's build-once artifact: winnow index over the %3≠0 corpus split
    * (the d33/lineIndexFor pattern — the %3=0 split plays the delivery).
    */
  private def winnowIdxFor(s: org.apache.spark.sql.SparkSession,
                           dir: String): graft.ext.WinnowIndex =
    winnowIdxMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-winidx").toString
        graft.ext.WinnowIndex.build(
          docs(s, dir).where(col("doc_id") % 3 =!= 0), path)
        graft.ext.WinnowIndex.load(s, path)
      })

  private def lineIndexFor(s: org.apache.spark.sql.SparkSession,
                           dir: String): graft.ext.LineIndex =
    lineIdxMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-lineidx").toString
        val hist = linedDocs(s, dir).where(col("doc_id") % 5 =!= 0)
        graft.ext.LineIndex.build(
          hist.where(col("doc_id") % 2 === 0), path, minLen = 20)
        val idx = graft.ext.LineIndex.load(s, path)
        idx.append(hist.where(col("doc_id") % 2 =!= 0), seg = "b0")
        require(idx.compact(Seq("b0")) == Seq("b0"),
          "d33 gate: the appended segment must fold")
        graft.ext.LineIndex.load(s, path)
      })

  /** Session-memoized hashed-TF vector table for d25 (quality-filtered
    * docs → md5-60bit feature hashing, dim 32) — the build-once artifact
    * its exact semantic dedup self-joins (the semAssignFor precedent).
    */
  private val d25VecsMemo = new Memo[DataFrame]("d25Vecs")

  private def d25VecsFor(s: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    d25VecsMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => TextAnalysis.hashedTfDense(
        docs(s, dir).where(TextAnalysis.dupTokenFraction(col("text")) <= 0.65),
        dim = 32, hasher = Dedup.md5Hash60).cache())

  /** Shared d23/d24 oracle: brute-force cross pairs (batch × corpus
    * splits) at plain cosine ≥ 0.35 — both queries run the same
    * dedupBatch against indexes whose CONTENT is identical by
    * construction, so one SQL gates both the incremental build and the
    * compacted fold.
    */
  private val semCrossSql =
    """WITH e AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
      |  FROM embeddings
      |), dots AS (
      |  SELECT a.vec_id AS a, b.vec_id AS b,
      |         sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
      |  FROM e a JOIN e b ON a.i = b.i
      |  WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
      |  GROUP BY 1, 2
      |), nrm AS (
      |  -- zero-norm guard mirroring Similarity.cosineSafe: divide by 1,
      |  -- not 0 - NaN would order ABOVE the threshold in DuckDB
      |  SELECT vec_id, CASE WHEN sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
      |    THEN 1 ELSE sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) END AS n
      |  FROM e GROUP BY 1
      |)
      |SELECT a AS vec_id, b AS dup_of, round(dot / na.n / nb.n, 4) AS cos
      |FROM dots JOIN nrm na ON na.vec_id = a JOIN nrm nb ON nb.vec_id = b
      |WHERE dot / na.n / nb.n >= 0.35
      |ORDER BY 1, 2""".stripMargin

  /** Exact-mode [[graft.ext.SemanticIndex]] over the corpus split
    * (vec_id % 5 ≠ 0): nlist=1 makes cell blocking structurally
    * complete and normalized=false keeps the plain-cosine spelling, so
    * d23's DuckDB cross-pair oracle gates build + parquet round-trip +
    * cell join + threshold end to end (the d19 pattern for embeddings).
    */
  private val semIdxMemo = new Memo[graft.ext.SemanticIndex]("semIdx")

  private def semIndexFor(s: org.apache.spark.sql.SparkSession,
                          dir: String): graft.ext.SemanticIndex =
    semIdxMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-semidx").toString
        graft.ext.SemanticIndex.build(emb(s, dir).where(col("vec_id") % 5 =!= 0),
          path, nlist = 1, normalized = false)
        graft.ext.SemanticIndex.load(s, path)
      })

  /** Compacted twin of [[semIndexFor]]: base + two appended segments,
    * folded ([[graft.ext.SemanticIndex.compact]] — the cell-partitioned
    * [[graft.ext.SegmentedTable]] path) before d24 dedups the batch
    * split against the reloaded index. Content equals [[semIndexFor]]'s
    * exactly, so d23's oracle gates the fold.
    */
  private val semCompactIdxMemo = new Memo[graft.ext.SemanticIndex]("semCompactIdx")

  private def semCompactedIndexFor(s: org.apache.spark.sql.SparkSession,
                                   dir: String): graft.ext.SemanticIndex =
    semCompactIdxMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-semcidx").toString
        val corpus = emb(s, dir).where(col("vec_id") % 5 =!= 0)
        graft.ext.SemanticIndex.build(corpus.where(col("vec_id") % 3 === 0),
          path, nlist = 1, normalized = false)
        val idx = graft.ext.SemanticIndex.load(s, path)
        idx.append(corpus.where(col("vec_id") % 3 === 1), seg = "b0")
        idx.append(corpus.where(col("vec_id") % 3 === 2), seg = "b1")
        require(idx.compact(Seq("b0", "b1")).sorted == Seq("b0", "b1"),
          "d24 gate: both appended segments must fold")
        graft.ext.SemanticIndex.load(s, path)
      })

  /** Compacted twin of [[appendedIvfIndexFor]]: the appended segment is
    * folded into base before s13 searches the reloaded index with every
    * cell probed — the brute-force oracle gates the fold.
    */
  private val ivfCompactMemo = new Memo[(DataFrame, DataFrame)]("ivfCompact")

  private def compactedIvfIndexFor(s: org.apache.spark.sql.SparkSession,
                                   dir: String): (DataFrame, DataFrame) =
    ivfCompactMemo.computeIfAbsent(
      s"${System.identityHashCode(s)}:$dir",
      _ => {
        val path = java.nio.file.Files.createTempDirectory("graft-ivfcidx").toString
        val base = emb(s, dir).where(col("vec_id") % 5 =!= 0)
        val c = Similarity.corpus(base)
        val cents = Similarity.ivfCentroids(c, nlist = 8).cache()
        Similarity.saveIvfIndex(path, cents, Similarity.ivfMembership(c, cents))
        Similarity.appendIvfIndex(path,
          emb(s, dir).where(col("vec_id") % 5 === 0), seg = "delta")
        require(Similarity.compactIvfIndex(s, path, Seq("delta")) == Seq("delta"),
          "s13 gate: the appended segment must fold")
        Similarity.loadIvfIndex(s, path)
      })

  /** Word-trigram shingle CTEs for the dedup oracles, in two cap
    * conventions matching the TWO engine code paths (r10 advice #1):
    *
    *  - `capped = true` mirrors `Dedup.shingleIntersections` — the
    *    df ≤ 1000 frequency cap drops a shingle from the INTERSECTION
    *    only, set sizes stay uncapped. The blocked-join queries
    *    (d02/d41/d64) run that code path, so their oracles must cap.
    *  - `capped = false` mirrors `Dedup.verifyCandidates`' stage-3
    *    exact intersection, which is UNCAPPED (the hot-shingle blowup
    *    the cap guards against lives in candidate generation, which
    *    MinHash banding already bounds). The minhash-family queries
    *    (d03/d67/d65) run that path, so their oracles must not cap —
    *    a df > 1000 fixture shingle would otherwise diverge code and
    *    oracle on exactly those rows.
    */
  private def shingleCtes(capped: Boolean): String = {
    val interSrc = if (capped) "cap" else "tri"
    val capCtes =
      if (!capped) ""
      else
        """, rare AS (
          |  SELECT shingle FROM tri GROUP BY 1 HAVING count(*) <= 1000
          |), cap AS (
          |  SELECT doc_id, shingle FROM tri JOIN rare USING (shingle)
          |)""".stripMargin
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents
       |), tri AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       |  FROM tok
       |)$capCtes, sz AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
       |  FROM $interSrc x JOIN $interSrc y
       |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  private val shingleCapCtes: String = shingleCtes(capped = true)
  private val shingleUncappedCtes: String = shingleCtes(capped = false)

  private def jaccardSql(tau: Double, capped: Boolean = true): String =
    s"""${shingleCtes(capped)}
       |SELECT a, b, CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) AS jaccard
       |FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
       |WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= $tau
       |ORDER BY 1, 2""".stripMargin

  /** The md5-hex → 60-bit integer token hash, spelled for DuckDB —
    * shared by every hashed-feature oracle (was six inline copies).
    */
  private val hexValSql: String = (1 to 15)
    .map(i =>
      s"strpos('123456789abcdef', substr(md5(tok), $i, 1)) * " +
        s"${BigInt(16).pow(15 - i)}")
    .mkString(" + ")

  /** t28's one-step ordered-GD training chain in SQL (lab → tok → h →
    * c → nr → x → nd → g → w1 → b1) — ONE definition both t28 and d69
    * retrain from, so a fix to the gradient fold or the nd denominator
    * lands in both oracles or neither. `materializeX` pins d69's
    * AS MATERIALIZED on the multi-referenced x CTE (DuckDB 1.0
    * re-inlines CTEs per reference — the 35-min lesson).
    */
  private def trainCtesSql(materializeX: Boolean): String = {
    val xMat = if (materializeX) " MATERIALIZED" else ""
    s"""lab AS (
       |  SELECT 1.0 AS y, doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT 0.0 AS y, doc_id, text FROM documents WHERE doc_id % 3 = 1
       |), tok AS (
       |  SELECT y, doc_id, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
       |  FROM lab
       |), h AS (
       |  SELECT y, doc_id, CAST(($hexValSql) % 64 AS BIGINT) AS bucket FROM tok
       |), c AS (
       |  SELECT y, doc_id, bucket, count(*) AS cnt FROM h GROUP BY 1, 2, 3
       |), nr AS (
       |  SELECT y, doc_id, sqrt(sum(CAST(cnt * cnt AS DOUBLE))) AS nrm
       |  FROM c GROUP BY 1, 2
       |), x AS$xMat (
       |  SELECT c.y, c.doc_id, bucket, CAST(cnt AS DOUBLE) / nrm AS w
       |  FROM c JOIN nr ON nr.y = c.y AND nr.doc_id = c.doc_id
       |), nd AS (
       |  SELECT CAST(count(DISTINCT (y, doc_id)) AS DOUBLE) AS n FROM x
       |), g AS (
       |  SELECT bucket,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list((0.5 - y) * w ORDER BY y, doc_id)), (a, b) -> a + b)
       |      AS grad
       |  FROM x GROUP BY 1
       |), w1 AS (
       |  SELECT bucket, -0.5 * coalesce(grad, 0.0) / n AS wt
       |  FROM (SELECT unnest(generate_series(0, 63)) AS bucket) ab
       |  LEFT JOIN g USING (bucket) CROSS JOIN nd
       |), b1 AS (
       |  SELECT -0.5 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list((0.5 - y) ORDER BY y, doc_id)), (a, b) -> a + b) / n
       |    AS bias
       |  FROM (SELECT DISTINCT y, doc_id FROM x) CROSS JOIN nd GROUP BY n
       |)""".stripMargin
  }

  /** d40/d72's shared scored frame (t11's unigram-LM NLL, 4dp-rounded,
    * joined to source) — one definition point so the approx twin can
    * never bucket different scores than the exact query it mirrors
    * (d72 is rows-only; nothing else gates its scores).
    */
  private def nllScored(s: org.apache.spark.sql.SparkSession,
                        dir: String): DataFrame = {
    val d = docs(s, dir)
    TextAnalysis.unigramNll(d, lmFor(s, dir))
      .where(col("nll").isNotNull)
      .select(col("doc_id"), round(col("nll"), 4).as("score"))
      .join(d.select(col("doc_id"), col("source")), "doc_id")
  }

  /** The unigram-NLL scoring CTE chain d40 and d72b share (t11's model,
    * scores rounded to 4dp before any ranking/thresholding), factored
    * out of the QueryDefs so the exact-rank, approx-twin, and
    * pinned-threshold registrations sit together without duplicating it.
    */
  private val scoredCtes: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
       |  FROM documents
       |), tcorp AS (
       |  SELECT tok FROM tok WHERE doc_id % 5 <> 0
       |), cnts AS (
       |  SELECT tok, count(*) AS cnt FROM tcorp GROUP BY 1
       |), nv AS (
       |  SELECT (SELECT count(*) FROM tcorp) AS n,
       |         (SELECT count(*) FROM cnts) AS v
       |), sc AS (
       |  SELECT t.doc_id, count(*) AS tokens,
       |         avg(-(ln(coalesce(c.cnt, 0) + 1.0) - ln(n + v + 1.0))) AS nll
       |  FROM tok t LEFT JOIN cnts c USING (tok) CROSS JOIN nv
       |  GROUP BY 1
       |), scored AS (
       |  SELECT d.source, d.doc_id, round(sc.nll, 4) AS score
       |  FROM documents d JOIN sc USING (doc_id)
       |  WHERE sc.nll IS NOT NULL
       |)""".stripMargin

  private val d40Sql: String =
    s"""$scoredCtes, rk AS (
       |  SELECT source, doc_id, score,
       |         row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rnk,
       |         count(*) OVER (PARTITION BY source) AS n
       |  FROM scored
       |)
       |SELECT source, doc_id, score,
       |       CAST(floor((rnk - 1) * 3 / n) + 1 AS INTEGER) AS tier
       |FROM rk ORDER BY source, doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- text analysis ------------------------------------------------
    QueryDef(
      "t01_text_tokens",
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            TextAnalysis.charCount(col("text")).as("n_chars"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            TextAnalysis.wsTokenCount(col("text")).as("n_ws_tokens"))
          .orderBy("doc_id"),
      """SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INTEGER) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_ws_tokens
        |FROM documents ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t05_text_bpe_tokens",
      // BPE-ish pre-tokenizer counting (contractions / space-prefixed
      // letter and digit runs / punctuation runs) — the token-budget
      // estimate a training pipeline actually bills by
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            TextAnalysis.bpeTokenCount(col("text")).as("n_bpe"),
            round(col("n_chars").cast("double") /
              greatest(TextAnalysis.bpeTokenCount(col("text")), lit(1)), 4)
              .as("chars_per_tok"))
          .orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeRe.replace("'", "''")}')) AS INTEGER) AS n_bpe,
         |  round(CAST(n_chars AS DOUBLE) /
         |    greatest(len(regexp_extract_all(text, '${TextAnalysis.BpeRe.replace("'", "''")}')), 1), 4)
         |    AS chars_per_tok
         |FROM documents ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t06_text_rolling_fingerprint",
      // Rabin–Karp rolling-hash fingerprints (k=8 byte grams, base 31,
      // mod 1e9+7, mod-8 sampling); oracle re-derives every gram hash
      // from the blob's hex expansion with the same arithmetic
      (s, dir) =>
        TextAnalysis.rollingFingerprints(docs(s, dir)).toDF().orderBy("doc_id"),
      {
        val (k, b, m, smp) = (8, 31L, 1000000007L, 8)
        val pw = (0 until k).map(j =>
          (0 until (k - 1 - j)).foldLeft(1L)((h, _) => h * b % m))
        s"""WITH bx AS (SELECT doc_id, hex(encode(text)) AS h FROM documents),
           |u AS (
           |  SELECT doc_id, i,
           |    strpos('123456789ABCDEF', substr(h, i*2-1, 1)) * 16 +
           |    strpos('123456789ABCDEF', substr(h, i*2, 1)) AS byte
           |  FROM bx, unnest(range(1, length(h)//2 + 1)) AS t(i)),
           |l AS (SELECT doc_id, list(byte ORDER BY i) AS bs FROM u GROUP BY 1),
           |g AS (
           |  SELECT doc_id, CAST(greatest(len(bs) - $k + 1, 0) AS INTEGER) AS n_grams,
           |    list_transform(generate_series(1, greatest(len(bs) - $k + 1, 0)), p ->
           |      list_sum(list_transform(generate_series(0, ${k - 1}), j ->
           |        bs[p + j] * CAST([${pw.mkString(",")}][j + 1] AS BIGINT))) % $m) AS hs
           |  FROM l),
           |sel AS (SELECT doc_id, n_grams, list_filter(hs, x -> x % $smp = 0) AS fp FROM g)
           |SELECT doc_id, n_grams,
           |  CAST(len(list_distinct(fp)) AS INTEGER) AS n_fp,
           |  CAST(coalesce(list_min(fp), -1) AS BIGINT) AS fp_min,
           |  CAST(coalesce(list_max(fp), -1) AS BIGINT) AS fp_max
           |FROM sel ORDER BY 1""".stripMargin
      }
    ),
    QueryDef(
      "t20_text_winnowing",
      // Winnowing fingerprint selection (Schleimer 2003) — the published
      // guarantee t06's mod-sampling lacks (every shared run ≥ w+k−1
      // chars detected, density 2/(w+1)). Full fingerprint SET oracled
      // row-for-row: the oracle winnows the same Rabin–Karp hash stream
      // with list ops (rightmost-tie via list_position over the reversed
      // window), fingerprints packed as pos·mod + h then unpacked.
      (s, dir) =>
        TextAnalysis.winnowFingerprints(docs(s, dir)).toDF()
          .orderBy("doc_id", "pos"),
      s"""$winnowCtes
         |SELECT doc_id, CAST(x // $WinnowMod AS INTEGER) AS pos,
         |  CAST(x % $WinnowMod AS BIGINT) AS h
         |FROM (SELECT doc_id, unnest(ss) AS x FROM sel)
         |ORDER BY doc_id, pos""".stripMargin
    ),
    QueryDef(
      "d54_dedup_winnow",
      // MOSS over the corpus: winnow-fingerprint near-dup pairs —
      // hash-blocked equi-join with a df≤64 cap (boilerplate mega-keys
      // die pre-join), verified as inter/min over each doc's distinct
      // winnow-hash set. The oracle winnows in SQL (t20's CTEs) and
      // replays the cap/join/verify arithmetic exactly.
      (s, dir) =>
        Dedup.winnowPairs(docs(s, dir), tau = 0.4, maxHashFreq = 64)
          .select(col("a"), col("b"), round(col("sim"), 4).as("sim"))
          .orderBy("a", "b"),
      s"""$winnowCtes,
         |fp AS (
         |  SELECT DISTINCT doc_id AS id, x % $WinnowMod AS h
         |  FROM (SELECT doc_id, unnest(ss) AS x FROM sel)),
         |dfs AS (SELECT h, count(*) AS df FROM fp GROUP BY 1),
         |capped AS (SELECT id, h FROM fp JOIN dfs USING (h) WHERE df <= 64),
         |sizes AS (SELECT id, count(*) AS sz FROM fp GROUP BY 1),
         |pairs AS (
         |  SELECT x.id AS a, y.id AS b, count(*) AS c
         |  FROM capped x JOIN capped y ON x.h = y.h AND x.id < y.id
         |  GROUP BY 1, 2)
         |SELECT a, b, round(CAST(c AS DOUBLE) / least(na.sz, nb.sz), 4) AS sim
         |FROM pairs JOIN sizes na ON na.id = a JOIN sizes nb ON nb.id = b
         |WHERE CAST(c AS DOUBLE) / least(na.sz, nb.sz) >= 0.4
         |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "t21_text_entropy",
      // Shannon character entropy — the tokenizer-free repetitiveness
      // signal. ln(n) − Σ c·ln(c)/n with the sum in CHARACTER ORDER on
      // both engines (deterministic float accumulation), rounded 6dp.
      (s, dir) =>
        TextAnalysis.charEntropy(docs(s, dir)).toDF()
          .select(col("doc_id"), col("n_chars"),
            round(col("entropy"), 6).as("entropy"))
          .orderBy("doc_id"),
      """WITH ch AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c
        |  FROM documents
        |), cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
        |s AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
        |    list_sum(list(cnt * ln(cnt) ORDER BY c)) AS slc
        |  FROM cc GROUP BY 1)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_chars,
        |  round(ln(n) - slc / n, 6) AS entropy
        |FROM s ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t07_text_cjk_tokens",
      // CJK-aware token budget (ROADMAP: zh runs collapse to one BpeRe
      // pre-token): one token per CJK codepoint + BPE-ish segments over
      // the rest. The fixture is CJK-free (both terms still verified
      // cross-engine — the CJK discrimination is covered by ScalaTest
      // fixtures with real zh/ja/ko strings).
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            TextAnalysis.cjkAwareTokenCount(col("text")).as("n_tok"),
            TextAnalysis.cjkCount(col("text")).as("n_cjk"))
          .orderBy("doc_id"),
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.CjkRe}')) +
         |    len(regexp_extract_all(trim(regexp_replace(text, '${TextAnalysis.CjkRe}', ' ', 'g')),
         |        '${TextAnalysis.BpeRe.replace("'", "''")}')) AS INTEGER) AS n_tok,
         |  CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS INTEGER) AS n_cjk
         |FROM documents ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t02_text_quality",
      (s, dir) =>
        docs(s, dir)
          .select(
            col("doc_id"),
            TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
            TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .orderBy("doc_id"),
      s"""WITH q AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
         |    CAST(len(regexp_extract_all(lower(text),
         |        '\\b(${TextAnalysis.StopEn.mkString("|")})\\b')) AS DOUBLE)
         |      / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE), 1.0)
         |      AS stopword_ratio,
         |    CAST(length(text) AS DOUBLE) AS n_chars
         |  FROM documents)
         |SELECT doc_id, punct_ratio, stopword_ratio,
         |  (least(n_chars / 200.0, 1.0) + least(stopword_ratio * 4.0, 1.0)
         |    + (1.0 - least(punct_ratio * 5.0, 1.0))) / 3.0 AS quality
         |FROM q ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t03_text_langid",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), col("lang"),
            TextAnalysis.langId(col("text")).as("lang_pred"))
          .orderBy("doc_id"),
      s"""WITH sc AS (
         |  SELECT doc_id, lang,
         |    CAST(len(regexp_extract_all(lower(text), '\\b(${TextAnalysis.StopEn.mkString("|")})\\b')) AS INTEGER) AS s_en,
         |    CAST(len(regexp_extract_all(lower(text), '\\b(${TextAnalysis.StopEs.mkString("|")})\\b')) AS INTEGER) AS s_es,
         |    CAST(len(regexp_extract_all(lower(text), '\\b(${TextAnalysis.StopDe.mkString("|")})\\b')) AS INTEGER) AS s_de,
         |    CAST(len(regexp_extract_all(lower(text), '\\b(${TextAnalysis.StopFr.mkString("|")})\\b')) AS INTEGER) AS s_fr,
         |    CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS INTEGER) * 3 AS s_zh
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN s_en IS NULL THEN NULL -- null text: null-in-null-out
         |       WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
         |       WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
         |       WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
         |       WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
         |       WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM sc ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t04_text_fingerprint",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
          .orderBy("doc_id"),
      s"""SELECT doc_id, $fpSql AS fp FROM documents ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t08_text_redact",
      // The fixture is PII-free, so the query grafts deterministic PII
      // (email + IPv4 + phone, derived from doc_id by the SAME expression
      // in both engines) onto every row first — the oracle then gates the
      // actual match+replace behavior of all three patterns and the
      // staged counts on every document, not a no-op identity pass.
      (s, dir) => {
        val d = docs(s, dir).select(
          col("doc_id"),
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@mail.example.com or 10.0."),
            (col("doc_id") % 256).cast("string"),
            lit(".7 tel +1 (555) 010-"),
            (lit(1000) + col("doc_id") % 9000).cast("string"),
            lit(" bye")).as("t0"))
        d
          .withColumn("n_email",
            TextAnalysis.countRe(col("t0"), TextAnalysis.EmailRe))
          .withColumn("t1",
            regexp_replace(col("t0"), TextAnalysis.EmailRe, "<EMAIL>"))
          .withColumn("n_ip",
            TextAnalysis.countRe(col("t1"), TextAnalysis.Ipv4Re))
          .withColumn("t2",
            regexp_replace(col("t1"), TextAnalysis.Ipv4Re, "<IP>"))
          .withColumn("n_phone",
            TextAnalysis.countRe(col("t2"), TextAnalysis.PhoneRe))
          .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
            TextAnalysis.redactPii(col("t0")).as("red"))
          .orderBy("doc_id")
      },
      s"""WITH p AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |    '@mail.example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
         |    '.7 tel +1 (555) 010-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' bye' AS t0
         |  FROM documents
         |), s1 AS (
         |  SELECT doc_id, len(regexp_extract_all(t0, '${TextAnalysis.EmailRe}')) AS n_email,
         |    regexp_replace(t0, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g') AS t1 FROM p
         |), s2 AS (
         |  SELECT doc_id, n_email, len(regexp_extract_all(t1, '${TextAnalysis.Ipv4Re}')) AS n_ip,
         |    regexp_replace(t1, '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS t2 FROM s1
         |)
         |SELECT doc_id, CAST(n_email AS INTEGER) AS n_email, CAST(n_ip AS INTEGER) AS n_ip,
         |  CAST(len(regexp_extract_all(t2, '${TextAnalysis.PhoneRe}')) AS INTEGER) AS n_phone,
         |  regexp_replace(t2, '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS red
         |FROM s2 ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t10_text_hashtf",
      // feature-hashed TF vectors with the cross-engine md5-60bit token
      // hash (d08's pattern): the full pipeline — tokenize, hash-bucket,
      // count, l2-normalize — is value-checked row by row on the sparse
      // form. The engine path keeps xxhash64 (hashedTf's default).
      (s, dir) =>
        TextAnalysis.hashedTf(docs(s, dir), dim = 64,
            hasher = Dedup.md5Hash60)
          .select(col("doc_id"), col("bucket"), round(col("w"), 4).as("w"))
          .orderBy("doc_id", "bucket"), {
        val hexVal = hexValSql
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
           |  FROM documents
           |), h AS (
           |  SELECT doc_id, CAST(($hexVal) % 64 AS BIGINT) AS bucket FROM tok
           |), c AS (
           |  SELECT doc_id, bucket, count(*) AS cnt FROM h GROUP BY 1, 2
           |), n AS (
           |  SELECT doc_id, sqrt(sum(CAST(cnt * cnt AS DOUBLE))) AS nrm FROM c GROUP BY 1
           |)
           |SELECT c.doc_id, bucket, round(CAST(cnt AS DOUBLE) / nrm, 4) AS w
           |FROM c JOIN n ON n.doc_id = c.doc_id
           |ORDER BY 1, 2""".stripMargin
      }
    ),
    QueryDef(
      "t11_text_unigram_nll",
      // CCNet-style LM quality scoring at its relational core: a
      // unigram LM trained on the corpus slice (doc_id % 5 != 0,
      // add-one smoothing over N tokens + V types), every doc scored
      // by mean negative log-probability per token. Seen and unseen
      // tokens share one formula — p = (c+1)/(N+V+1) at c = 0 — so the
      // whole train+score path is value-gated.
      (s, dir) =>
        TextAnalysis.unigramNll(docs(s, dir), lmFor(s, dir))
          .select(col("doc_id"), col("tokens"), round(col("nll"), 4).as("nll"))
          .orderBy("doc_id"),
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
         |  FROM documents
         |), tcorp AS (
         |  SELECT tok FROM tok WHERE doc_id % 5 <> 0
         |), cnts AS (
         |  SELECT tok, count(*) AS cnt FROM tcorp GROUP BY 1
         |), nv AS (
         |  SELECT (SELECT count(*) FROM tcorp) AS n,
         |         (SELECT count(*) FROM cnts) AS v
         |), sc AS (
         |  SELECT t.doc_id, count(*) AS tokens,
         |         avg(-(ln(coalesce(c.cnt, 0) + 1.0) - ln(n + v + 1.0))) AS nll
         |  FROM tok t LEFT JOIN cnts c USING (tok) CROSS JOIN nv
         |  GROUP BY 1
         |)
         |SELECT d.doc_id, CAST(coalesce(sc.tokens, 0) AS BIGINT) AS tokens,
         |       round(sc.nll, 4) AS nll
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t13_text_bigram_nll",
      // one rung up t11's ladder toward CCNet's KenLM: interpolated
      // bigram scoring (λ=0.7), add-one smoothed at both orders, first
      // token of each doc scored by the unigram term alone. Bigrams
      // never cross doc boundaries; the whole train+score path is
      // value-gated including unseen-context and unseen-bigram cases.
      (s, dir) => {
        val lm = lm2For(s, dir)
        TextAnalysis.bigramNll(docs(s, dir), lm)
          .select(col("doc_id"), col("tokens"), round(col("nll"), 4).as("nll"))
          .orderBy("doc_id")
      },
      s"""WITH dt AS (
         |  SELECT doc_id, regexp_extract_all(text, '${TextAnalysis.TokenRe}') AS arr
         |  FROM documents
         |), tok AS (
         |  SELECT doc_id, CAST(u.i AS BIGINT) AS idx,
         |         arr[CAST(u.i AS INTEGER)] AS tok,
         |         CASE WHEN u.i > 1 THEN arr[CAST(u.i AS INTEGER) - 1] END AS prev
         |  FROM dt, UNNEST(range(1, len(arr) + 1)) AS u(i)
         |), tr AS (
         |  SELECT tok, prev FROM tok WHERE doc_id % 5 <> 0
         |), cnts AS (
         |  SELECT tok, count(*) AS cnt FROM tr GROUP BY 1
         |), bis AS (
         |  SELECT prev, tok, count(*) AS bcnt FROM tr WHERE prev IS NOT NULL
         |  GROUP BY 1, 2
         |), nv AS (
         |  SELECT (SELECT count(*) FROM tr) AS n,
         |         (SELECT count(*) FROM cnts) AS v
         |), ps AS (
         |  SELECT t.doc_id, t.prev,
         |         (coalesce(cu.cnt, 0) + 1.0) / (n + v + 1.0) AS pu,
         |         (coalesce(b.bcnt, 0) + 1.0) /
         |           (coalesce(cp.cnt, 0) + v + 1.0) AS pb
         |  FROM tok t
         |  LEFT JOIN cnts cu ON cu.tok = t.tok
         |  LEFT JOIN cnts cp ON cp.tok = t.prev
         |  LEFT JOIN bis b ON b.prev = t.prev AND b.tok = t.tok
         |  CROSS JOIN nv
         |), sc AS (
         |  SELECT doc_id, count(*) AS tokens,
         |         avg(-ln(CASE WHEN prev IS NULL THEN pu
         |                      ELSE 0.7 * pb + (1.0 - 0.7) * pu END)) AS nll
         |  FROM ps GROUP BY 1
         |)
         |SELECT d.doc_id, CAST(coalesce(sc.tokens, 0) AS BIGINT) AS tokens,
         |       round(sc.nll, 4) AS nll
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t22_text_trigram_nll",
      // the rung above t13 toward CCNet's KenLM: interpolated trigram
      // scoring (λ3=0.5, λ2=0.25 — all mixture weights exact dyadic
      // doubles), add-one smoothed at every order over its context
      // count + V + 1, n-grams never crossing doc boundaries. First
      // token scores unigram-only; second backs the trigram mass off
      // onto the bigram mixture (λ = λ3+λ2 = 0.75); unseen contexts,
      // bigrams, and trigrams all exercise the coalesce paths.
      (s, dir) => {
        val lm = lm3For(s, dir)
        TextAnalysis.trigramNll(docs(s, dir), lm)
          .select(col("doc_id"), col("tokens"), round(col("nll"), 4).as("nll"))
          .orderBy("doc_id")
      },
      s"""WITH dt AS (
         |  SELECT doc_id, regexp_extract_all(text, '${TextAnalysis.TokenRe}') AS arr
         |  FROM documents
         |), tok AS (
         |  SELECT doc_id, CAST(u.i AS BIGINT) AS idx,
         |         arr[CAST(u.i AS INTEGER)] AS tok,
         |         CASE WHEN u.i > 1 THEN arr[CAST(u.i AS INTEGER) - 1] END AS prev,
         |         CASE WHEN u.i > 2 THEN arr[CAST(u.i AS INTEGER) - 2] END AS prev2
         |  FROM dt, UNNEST(range(1, len(arr) + 1)) AS u(i)
         |), tr AS (
         |  SELECT tok, prev, prev2 FROM tok WHERE doc_id % 5 <> 0
         |), cnts AS (
         |  SELECT tok, count(*) AS cnt FROM tr GROUP BY 1
         |), bis AS (
         |  SELECT prev, tok, count(*) AS bcnt FROM tr WHERE prev IS NOT NULL
         |  GROUP BY 1, 2
         |), tris AS (
         |  SELECT prev2, prev, tok, count(*) AS tcnt FROM tr
         |  WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3
         |), nv AS (
         |  SELECT (SELECT count(*) FROM tr) AS n,
         |         (SELECT count(*) FROM cnts) AS v
         |), ps AS (
         |  SELECT t.doc_id, t.prev, t.prev2,
         |         (coalesce(cu.cnt, 0) + 1.0) / (n + v + 1.0) AS pu,
         |         (coalesce(b.bcnt, 0) + 1.0) /
         |           (coalesce(cp.cnt, 0) + v + 1.0) AS pb,
         |         (coalesce(tt.tcnt, 0) + 1.0) /
         |           (coalesce(bc.bcnt, 0) + v + 1.0) AS pt
         |  FROM tok t
         |  LEFT JOIN cnts cu ON cu.tok = t.tok
         |  LEFT JOIN cnts cp ON cp.tok = t.prev
         |  LEFT JOIN bis b ON b.prev = t.prev AND b.tok = t.tok
         |  LEFT JOIN bis bc ON bc.prev = t.prev2 AND bc.tok = t.prev
         |  LEFT JOIN tris tt ON tt.prev2 = t.prev2 AND tt.prev = t.prev
         |    AND tt.tok = t.tok
         |  CROSS JOIN nv
         |), sc AS (
         |  SELECT doc_id, count(*) AS tokens,
         |         avg(-ln(CASE WHEN prev IS NULL THEN pu
         |                      WHEN prev2 IS NULL THEN 0.75 * pb + 0.25 * pu
         |                      ELSE 0.5 * pt + 0.25 * pb + 0.25 * pu END)) AS nll
         |  FROM ps GROUP BY 1
         |)
         |SELECT d.doc_id, CAST(coalesce(sc.tokens, 0) AS BIGINT) AS tokens,
         |       round(sc.nll, 4) AS nll
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t12_text_quality_linear",
      // fastText-style linear quality scorer over the hashed-TF
      // features: sigmoid(bias + w·x) with a deterministic weight
      // vector (w_b = ((b·37) mod 21 − 10)/10) the oracle derives from
      // the bucket index — t10's md5-60bit hash twin keeps bucketing
      // engine-portable, so train-offline/apply-corpus-wide scoring is
      // value-gated end to end.
      (s, dir) =>
        TextAnalysis.scoreLinear(docs(s, dir),
            (0 until 64).map(i => ((i * 37) % 21 - 10) / 10.0),
            bias = -0.1, hasher = Dedup.md5Hash60)
          .select(col("doc_id"), round(col("score"), 4).as("score"))
          .orderBy("doc_id"), {
        val hexVal = hexValSql
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
           |  FROM documents
           |), h AS (
           |  SELECT doc_id, CAST(($hexVal) % 64 AS BIGINT) AS bucket FROM tok
           |), c AS (
           |  SELECT doc_id, bucket, count(*) AS cnt FROM h GROUP BY 1, 2
           |), n AS (
           |  SELECT doc_id, sqrt(sum(CAST(cnt * cnt AS DOUBLE))) AS nrm FROM c GROUP BY 1
           |), z AS (
           |  SELECT c.doc_id,
           |         sum((CAST(cnt AS DOUBLE) / nrm) *
           |             (CAST((bucket * 37) % 21 - 10 AS DOUBLE) / 10.0)) AS z
           |  FROM c JOIN n ON n.doc_id = c.doc_id GROUP BY 1
           |)
           |SELECT d.doc_id,
           |       round(1.0 / (1.0 + exp(-(coalesce(z.z, 0.0) - 0.1))), 4) AS score
           |FROM documents d LEFT JOIN z USING (doc_id) ORDER BY 1""".stripMargin
      }
    ),
    QueryDef(
      "t28_text_classifier_train",
      // the TRAIN half of t12's classifier, value-gated end to end at
      // the tokenizer family's depth-1 convention: one ordered GD step
      // from the zero model (σ(0) = 1/2 exactly, so the residual is
      // 0.5 − y and the whole train→score chain is +,·,/,√ — no
      // transcendental), positives = doc_id%3==0, negatives = %3==1,
      // gradient folded in (y, doc_id) order, every document then
      // scored by its LOGIT under the trained weights folded in bucket
      // order. Deeper steps (real sigmoid residuals) are spec-gated:
      // plain ≡ ordered within 1e-9, hand-exact 2-step weights, planted
      // vocab classes separate (ExtSpec).
      (s, dir) => {
        val m = classifierFor(s, dir)
        TextAnalysis.linearLogits(docs(s, dir), m.weights, m.bias,
            hasher = Dedup.md5Hash60, ordered = true)
          .select(col("doc_id"), roundSigned(col("z")).as("z"))
          .orderBy("doc_id")
      }, {
        val hexVal = hexValSql
        s"""WITH ${trainCtesSql(materializeX = false)}, dtok AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
           |  FROM documents
           |), dh AS (
           |  SELECT doc_id, CAST(($hexVal) % 64 AS BIGINT) AS bucket FROM dtok
           |), dcnt AS (
           |  SELECT doc_id, bucket, count(*) AS cnt FROM dh GROUP BY 1, 2
           |), dn AS (
           |  SELECT doc_id, sqrt(sum(CAST(cnt * cnt AS DOUBLE))) AS nrm
           |  FROM dcnt GROUP BY 1
           |), dx AS (
           |  SELECT c.doc_id, bucket, CAST(cnt AS DOUBLE) / nrm AS w
           |  FROM dcnt c JOIN dn ON dn.doc_id = c.doc_id
           |), z AS (
           |  SELECT dx.doc_id,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(dx.w * w1.wt ORDER BY bucket)), (a, b) -> a + b) AS z
           |  FROM dx JOIN w1 USING (bucket) GROUP BY 1
           |)
           |SELECT d.doc_id, round(coalesce(z.z, 0.0) + b1.bias, 4) + 0.0 AS z
           |FROM documents d LEFT JOIN z USING (doc_id) CROSS JOIN b1
           |ORDER BY 1""".stripMargin
      }
    ),
    QueryDef(
      "t30_text_chunks",
      // sliding-window chunking (embedding/retrieval prep): 32-token
      // windows, 8-token overlap (step 24), whitespace tokens; every
      // (doc, chunk) row value-gated — starts, slicing, the short tail
      // chunk, and per-chunk token counts all replayed in SQL.
      (s, dir) =>
        TextAnalysis.chunkDocs(docs(s, dir), chunkTokens = 32, overlap = 8)
          .orderBy("doc_id", "chunk_idx"),
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents
        |), st AS (
        |  SELECT doc_id, ws,
        |         unnest(generate_series(0, (len(ws) - 1) // 24)) AS i
        |  FROM tok
        |)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |       array_to_string(ws[i*24+1 : i*24+32], ' ') AS chunk,
        |       CAST(least(32, len(ws) - i*24) AS BIGINT) AS n_tokens
        |FROM st ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "t31_ngram_topk",
      // exact corpus heavy hitters: top-50 word bigrams by occurrence
      // count with document frequency — the boilerplate/template
      // discovery pass that tunes dedup and line-clean thresholds.
      // Counts are exact integers and the (tf desc, gram asc) order is
      // total, so the full row set is value-gated.
      (s, dir) =>
        TextAnalysis.topNgrams(docs(s, dir), n = 2, topK = 50),
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
        |      i -> ws[i] || ' ' || ws[i+1])) AS gram
        |  FROM tok
        |)
        |SELECT gram, CAST(count(*) AS BIGINT) AS tf,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM g GROUP BY 1 ORDER BY tf DESC, gram LIMIT 50""".stripMargin
    ),
    QueryDef(
      "d75_ngram_topk_incremental",
      // t31's incremental face: per-segment EXACT (gram, tf, df)
      // partials over disjoint deliveries — tf and df are both additive
      // across disjoint document sets, so the merged heavy hitters are
      // exact, not sketched. The index walks the full build (half the
      // history) → append (the other half) → FOLD → append (the
      // delivery) → reload lifecycle, and the whole-corpus oracle is
      // t31's SQL verbatim: any double-count from a replay, a fold, or
      // a segment leak shifts tf and breaks the hash.
      (s, dir) => ngramIndexFor(s, dir).topK(50),
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
        |      i -> ws[i] || ' ' || ws[i+1])) AS gram
        |  FROM tok
        |)
        |SELECT gram, CAST(count(*) AS BIGINT) AS tf,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM g GROUP BY 1 ORDER BY tf DESC, gram LIMIT 50""".stripMargin
    ),
    QueryDef(
      "d78_ngram_topk_stream",
      // d75's streaming face: the turnkey StreamingNgramStats wrapper's
      // batch hook over a seeded index, two deliveries with the FIRST
      // one fully replayed (foreachBatch's at-least-once) — the
      // whole-corpus oracle is t31's SQL verbatim, so a double-counted
      // segment, a snapshot-order leak, or a wrapper/batch-API drift
      // shifts tf and breaks the hash.
      (s, dir) => ngramStreamFor(s, dir).topK(50),
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
        |      i -> ws[i] || ' ' || ws[i+1])) AS gram
        |  FROM tok
        |)
        |SELECT gram, CAST(count(*) AS BIGINT) AS tf,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM g GROUP BY 1 ORDER BY tf DESC, gram LIMIT 50""".stripMargin
    ),
    QueryDef(
      "t34_text_nfc",
      // Unicode NFC normalization, value-gated end to end: the ASCII
      // fixture is grafted with deterministic decomposed sequences
      // (e+U+0301, precomposed U+00E9, A+U+030A) on even doc_ids —
      // t08's PII-grafting pattern — so both the rewrite (decomposed →
      // precomposed, ASCII untouched) and the `changed` flag bind.
      // JDK Normalizer vs DuckDB's ICU nfc_normalize must agree
      // byte-for-byte on the normalized string.
      (s, dir) =>
        TextAnalysis.normalizeDocs(
          docs(s, dir).select(col("doc_id"),
            concat(col("text"),
              when(col("doc_id") % 2 === 0,
                lit(" e\u0301 \u00e9 A\u030a")).otherwise(lit("")))
              .as("text")))
          .select("doc_id", "text_norm", "changed")
          .orderBy("doc_id"),
      """WITH g AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 2 = 0
        |      THEN ' e' || chr(769) || ' ' || chr(233) || ' A' || chr(778)
        |      ELSE '' END AS t
        |  FROM documents
        |)
        |SELECT doc_id, nfc_normalize(t) AS text_norm,
        |  coalesce(nfc_normalize(t) <> t, false) AS changed
        |FROM g ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t33_tfidf_keywords",
      // per-doc TF-IDF top-3 keywords: tf · ln(N/df), 6dp-rounded
      // BEFORE ranking (cross-engine rank stability), ties by term —
      // tf/df/N and the window replayed exactly in SQL, so every
      // (doc, rank, term, score) row is value-gated.
      (s, dir) =>
        TextAnalysis.topTerms(docs(s, dir), k = 3)
          .orderBy("doc_id", "rank"),
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
         |  FROM documents
         |), tf AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2
         |), df AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
         |), n AS (
         |  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents
         |), s AS (
         |  SELECT doc_id, tok,
         |    round(CAST(tf AS DOUBLE) * ln(n / CAST(df AS DOUBLE)), 6) AS score
         |  FROM tf JOIN df USING (tok) CROSS JOIN n
         |), r AS (
         |  SELECT doc_id, tok, score,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY score DESC, tok) AS rank
         |  FROM s
         |)
         |SELECT doc_id, rank, tok AS term, score
         |FROM r WHERE rank <= 3 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "t32_ngram_topk_sketch",
      // the bounded-memory twin: per-partition Misra–Gries candidate
      // nomination + exact recount of candidates only. Output equals
      // t31 whenever the true top-50 clear the merged-MG bar
      // tf > N/(counters+1) (they do here by orders of magnitude), but
      // candidate nomination below the bar is partition-order dependent
      // → registered rows-only; ExtSpec pins sketch ≡ exact on planted
      // and adversarial fixtures.
      (s, dir) =>
        TextAnalysis.topNgramsSketch(docs(s, dir), n = 2, topK = 50,
          counters = 4096),
      None),
    QueryDef(
      "t29_text_bm25",
      // BM25 keyword relevance (the Lucene-default (k1+1)/ln(1+…)
      // variant) against a fixed 3-term query — the keyword
      // subset-selection stage of curation, value-gated end to end:
      // doc-frequency, doc-length, avgdl, idf and the per-doc saturated
      // tf sum all recomputed in SQL, contributions folded in TOKEN
      // order on both engines (orderedSum / list ORDER BY tok), every
      // constant spelled as the same foldable expression so the IEEE
      // arithmetic is identical.
      (s, dir) =>
        TextAnalysis.bm25Scores(docs(s, dir),
            Seq("vector", "hash", "join"), k1 = 1.2, b = 0.75,
            ordered = true)
          .select(col("doc_id"), round(col("score"), 4).as("score"))
          .orderBy("doc_id"),
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
         |  FROM documents
         |), tc AS (
         |  SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2
         |), dl AS (
         |  SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM tc GROUP BY 1
         |), st AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |         sum(coalesce(dl.dl, 0.0)) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM documents d LEFT JOIN dl USING (doc_id)
         |), q AS (
         |  SELECT unnest(['vector', 'hash', 'join']) AS tok
         |), idf AS (
         |  SELECT tc.tok,
         |         ln(1.0 + (n - CAST(count(*) AS DOUBLE) + 0.5)
         |                  / (CAST(count(*) AS DOUBLE) + 0.5)) AS idf
         |  FROM tc JOIN q ON q.tok = tc.tok CROSS JOIN st
         |  GROUP BY tc.tok, n
         |), sc AS (
         |  SELECT tc.doc_id,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(idf.idf * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
         |           / (CAST(tf AS DOUBLE)
         |              + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / avgdl))
         |        ORDER BY tc.tok)), (a, b) -> a + b) AS score
         |  FROM tc JOIN idf ON idf.tok = tc.tok
         |       JOIN dl ON dl.doc_id = tc.doc_id CROSS JOIN st
         |  GROUP BY 1
         |)
         |SELECT d.doc_id, round(coalesce(sc.score, 0.0), 4) AS score
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t15_text_importance",
      // DSIR importance weighting end to end: the doc_id%5==0 slice
      // plays the target domain, hashed-unigram bucket models with
      // add-one smoothing on both sides, every raw doc scored by the
      // log-likelihood ratio Σ c_b·(ln p̂_t(b) − ln p̂_r(b)). The
      // md5-60bit hash twin (t10's pattern) keeps bucketing portable,
      // so model fitting AND scoring are value-gated.
      (s, dir) => {
        val d = docs(s, dir)
        TextAnalysis.importanceWeights(d,
            d.where(col("doc_id") % 5 === 0), dim = 64,
            hasher = Dedup.md5Hash60)
          .select(col("doc_id"), col("tokens"),
            roundSigned(col("llr")).as("llr"),
            roundSigned(col("avg_llr")).as("avg_llr"))
          .orderBy("doc_id")
      }, {
        val hexVal = hexValSql
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
           |  FROM documents
           |), h AS (
           |  SELECT doc_id, CAST(($hexVal) % 64 AS BIGINT) AS bucket FROM tok
           |), tcnt AS (
           |  SELECT bucket, count(*) AS ct FROM h WHERE doc_id % 5 = 0 GROUP BY 1
           |), rcnt AS (
           |  SELECT bucket, count(*) AS cr FROM h GROUP BY 1
           |), nn AS (
           |  SELECT (SELECT count(*) FROM h WHERE doc_id % 5 = 0) AS nt,
           |         (SELECT count(*) FROM h) AS nr
           |), lr AS (
           |  SELECT b.bucket,
           |    ln((coalesce(ct, 0) + 1.0) / (nt + 64.0))
           |      - ln((coalesce(cr, 0) + 1.0) / (nr + 64.0)) AS lr
           |  FROM (SELECT unnest(generate_series(0, 63)) AS bucket) b
           |  LEFT JOIN tcnt USING (bucket) LEFT JOIN rcnt USING (bucket)
           |  CROSS JOIN nn
           |), dc AS (
           |  SELECT doc_id, bucket, count(*) AS cnt FROM h GROUP BY 1, 2
           |)
           |, fold AS (
           |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS tokens,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |                             list(cnt * lr ORDER BY bucket)),
           |                (a, b) -> a + b) AS llr
           |  FROM dc JOIN lr USING (bucket) GROUP BY 1
           |)
           |SELECT doc_id, tokens, round(llr, 4) + 0.0 AS llr,
           |  round(llr / tokens, 4) + 0.0 AS avg_llr
           |FROM fold ORDER BY 1""".stripMargin
      }
    ),
    QueryDef(
      "t14_text_gopher_rules",
      // Gopher's rule-based quality filter (Rae et al. 2021 §A1.1) at
      // its published thresholds, per-rule flags + keep, over the
      // enriched fixture (synthesized lines, bullets, '#', ellipses —
      // see gopherDocs) so all seven rules are load-bearing. Every
      // metric is a count or an exact int/int division; no rounding.
      (s, dir) =>
        TextAnalysis.gopherRules(gopherDocs(s, dir)).orderBy("doc_id"),
      """WITH lined AS (
        |  SELECT doc_id,
        |         regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS t0
        |  FROM documents
        |), enr AS (
        |  SELECT doc_id,
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(
        |               regexp_replace(t0, '(^|\n)a', '\1- a', 'g'),
        |               '\bhash\b', '#', 'g'),
        |             '\bdata\b', 'of', 'g'),
        |           'e(\n|$)', 'e...\1', 'g') AS t
        |  FROM lined
        |), m AS (
        |  SELECT doc_id, t,
        |         CAST(len(regexp_extract_all(t, '\S+')) AS BIGINT) AS words,
        |         greatest(CAST(len(regexp_extract_all(t, '\S+')) AS DOUBLE), 1.0) AS wd,
        |         string_split(t, chr(10)) AS ls
        |  FROM enr
        |), x AS (
        |  SELECT doc_id, words,
        |    CAST(length(regexp_replace(t, '\s+', '', 'g')) AS DOUBLE) / wd AS mean_word_len,
        |    CAST(len(regexp_extract_all(t, '#|\.\.\.|…')) AS DOUBLE) / wd AS symbol_ratio,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
        |      / greatest(CAST(len(ls) AS DOUBLE), 1.0) AS bullet_frac,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS DOUBLE)
        |      / greatest(CAST(len(ls) AS DOUBLE), 1.0) AS ellipsis_frac,
        |    CAST(len(list_filter(regexp_extract_all(t, '\S+'),
        |        w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / wd AS alpha_frac,
        |    CAST(CASE WHEN regexp_matches(lower(t), '\bthe\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(lower(t), '\bbe\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(lower(t), '\bto\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(lower(t), '\bof\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(lower(t), '\band\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(lower(t), '\bthat\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(lower(t), '\bhave\b') THEN 1 ELSE 0 END
        |       + CASE WHEN regexp_matches(lower(t), '\bwith\b') THEN 1 ELSE 0 END
        |      AS BIGINT) AS stop_hits
        |  FROM m
        |), f AS (
        |  SELECT *,
        |    CASE WHEN words >= 50 AND words <= 100000 THEN 1 ELSE 0 END AS r_words,
        |    CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1 ELSE 0 END AS r_word_len,
        |    CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS r_symbol,
        |    CASE WHEN bullet_frac <= 0.9 THEN 1 ELSE 0 END AS r_bullet,
        |    CASE WHEN ellipsis_frac <= 0.3 THEN 1 ELSE 0 END AS r_ellipsis,
        |    CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS r_alpha,
        |    CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stop
        |  FROM x
        |)
        |SELECT doc_id, words, mean_word_len, symbol_ratio, bullet_frac,
        |  ellipsis_frac, alpha_frac, stop_hits, r_words, r_word_len,
        |  r_symbol, r_bullet, r_ellipsis, r_alpha, r_stop,
        |  r_words * r_word_len * r_symbol * r_bullet * r_ellipsis
        |    * r_alpha * r_stop AS keep
        |FROM f ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t16_bpe_pair_counts",
      // The BPE training objective, one step: adjacent-pair counts over
      // the pre-token frequency dictionary (Sennrich 2016). The corpus
      // folds into the dictionary in one scan + one shuffle; the pair
      // aggregate is dictionary-sized. Top-20 with the trainer's exact
      // deterministic tiebreak (cnt desc, then pair lexicographic).
      (s, dir) =>
        Bpe.pairCounts(Bpe.wordDict(docs(s, dir)))
          .orderBy(desc("cnt"), col("a"), col("b")).limit(20),
      s"""WITH toks AS (
         |  SELECT unnest(regexp_extract_all(text, '$bpeReSql')) AS tok FROM documents
         |), wf AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
         |pairs AS (
         |  SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
         |    i -> substr(tok, i, 2))) AS p, f FROM wf
         |)
         |SELECT substr(p, 1, 1) AS a, substr(p, 2, 1) AS b,
         |  CAST(sum(f) AS BIGINT) AS cnt
         |FROM pairs GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin
    ),
    QueryDef(
      "t17_bpe_tokens_1merge",
      // The whole learned-BPE pipeline — pre-tokenize → dictionary →
      // pair argmax → merge application → per-doc encode-by-join — value-
      // gated end to end at numMerges = 1, the largest depth the oracle
      // can express non-iteratively (greedy left-to-right non-overlapping
      // merge of a char pair ≡ SQL replace(); at step 0 every adjacent
      // symbol pair is a 2-char substring). driverThreshold = 0 forces
      // the DISTRIBUTED training loop, so the at-scale path is the one
      // under the oracle; t18 runs the in-memory twin and BpeSpec pins
      // the two paths merge-for-merge equal.
      (s, dir) => {
        val trained = Bpe.train(docs(s, dir), numMerges = 1,
          minCount = 1L, driverThreshold = 0L)
        Bpe.tokenCounts(docs(s, dir), trained).orderBy("doc_id")
      },
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$bpeReSql')) AS tok
         |  FROM documents
         |), wf AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
         |pairs AS (
         |  SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
         |    i -> substr(tok, i, 2))) AS p, f FROM wf
         |), pc AS (
         |  SELECT substr(p, 1, 1) AS a, substr(p, 2, 1) AS b, sum(f) AS cnt
         |  FROM pairs GROUP BY 1, 2
         |), best AS (SELECT a || b AS m FROM pc ORDER BY cnt DESC, a, b LIMIT 1)
         |SELECT doc_id,
         |  CAST(sum(length(tok)
         |    - (length(tok) - length(replace(tok, (SELECT m FROM best), ''))) // 2)
         |    AS BIGINT) AS n_tok
         |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t19_bpe_cross_tokens",
      // Cross-corpus encoding: train on the doc_id%10 slice (8 of 61
      // pre-tokens stay unseen at sf0.01, so the miss path BINDS),
      // count tokens over the WHOLE corpus — dictionary hits reuse the
      // trained forms, misses replay the merge table via encodeToks.
      // Depth 1 again makes the oracle non-iterative: one argmax over
      // the training slice, replace() over every doc.
      (s, dir) => {
        val d = docs(s, dir)
        val trained = Bpe.train(d.where(col("doc_id") % 10 === 0),
          numMerges = 1, minCount = 1L, driverThreshold = 0L)
        Bpe.tokenCountsCross(d, trained).orderBy("doc_id")
      },
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$bpeReSql')) AS tok
         |  FROM documents
         |), wf AS (
         |  SELECT tok, count(*) AS f FROM toks WHERE doc_id % 10 = 0 GROUP BY 1
         |), pairs AS (
         |  SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
         |    i -> substr(tok, i, 2))) AS p, f FROM wf
         |), pc AS (
         |  SELECT substr(p, 1, 1) AS a, substr(p, 2, 1) AS b, sum(f) AS cnt
         |  FROM pairs GROUP BY 1, 2
         |), best AS (SELECT a || b AS m FROM pc ORDER BY cnt DESC, a, b LIMIT 1)
         |SELECT doc_id,
         |  CAST(sum(length(tok)
         |    - (length(tok) - length(replace(tok, (SELECT m FROM best), ''))) // 2)
         |    AS BIGINT) AS n_tok
         |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t27_text_card_redact",
      // Luhn-validated credit-card redaction: "group" → a valid test
      // PAN (redacts), "window" → the same digits with a broken check
      // digit (must survive) — so the checksum, not the digit-run
      // pattern, decides. Both engines fold replace() over the sorted
      // distinct valid runs.
      (s, dir) =>
        TextAnalysis.redactCards(docs(s, dir).withColumn("text",
          regexp_replace(
            regexp_replace(col("text"), "\\bgroup\\b", "4111111111111111"),
            "\\bwindow\\b", "4111111111111112"))).orderBy("doc_id"),
      """WITH enr AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(text, '\bgroup\b', '4111111111111111', 'g'),
        |      '\bwindow\b', '4111111111111112', 'g') AS t
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, t,
        |    list_sort(list_distinct(list_filter(regexp_extract_all(t, '[0-9]+'), x ->
        |      length(x) >= 13 AND length(x) <= 19 AND
        |      list_sum(list_transform(generate_series(1, length(x)), i ->
        |        CASE WHEN i % 2 = 0 THEN
        |          CASE WHEN CAST(substr(x, length(x) - i + 1, 1) AS INTEGER) * 2 > 9
        |               THEN CAST(substr(x, length(x) - i + 1, 1) AS INTEGER) * 2 - 9
        |               ELSE CAST(substr(x, length(x) - i + 1, 1) AS INTEGER) * 2 END
        |        ELSE CAST(substr(x, length(x) - i + 1, 1) AS INTEGER) END)) % 10 = 0)))
        |      AS valid
        |  FROM enr)
        |SELECT doc_id, CAST(len(valid) AS INTEGER) AS n_cards,
        |  list_reduce(list_prepend(t, valid), (acc, x) -> replace(acc, x, '<CC>'))
        |    AS redacted
        |FROM r ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t26_wordpiece_tokens_1merge",
      // WordPiece = the BPE loop under the likelihood objective
      // cnt(ab)/(cnt(a)·cnt(b)) — the pair whose merge most improves
      // unigram-model likelihood. Depth 1 again SQL-oracles the whole
      // train+encode pipeline (one exact-integer IEEE ratio, argmax,
      // greedy replace); distributed loop forced. On this corpus the
      // likelihood argmax differs from the count argmax, so t26 ≠ t17
      // is itself evidence the objective is live (BpeSpec pins it).
      (s, dir) => {
        val trained = Bpe.trainWordPiece(docs(s, dir), numMerges = 1,
          minCount = 1L, driverThreshold = 0L)
        Bpe.tokenCounts(docs(s, dir), trained).orderBy("doc_id")
      },
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '$bpeReSql')) AS tok
         |  FROM documents
         |), wf AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
         |pc AS (
         |  SELECT substr(p, 1, 1) AS a, substr(p, 2, 1) AS b, sum(f) AS cnt
         |  FROM (SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
         |    i -> substr(tok, i, 2))) AS p, f FROM wf)
         |  GROUP BY 1, 2
         |), sc AS (
         |  SELECT sym, sum(f) AS scnt
         |  FROM (SELECT unnest(list_transform(generate_series(1, length(tok)),
         |    i -> substr(tok, i, 1))) AS sym, f FROM wf)
         |  GROUP BY 1
         |), best AS (
         |  SELECT a || b AS m
         |  FROM pc JOIN sc sa ON sa.sym = a JOIN sc sb ON sb.sym = b
         |  ORDER BY CAST(cnt AS DOUBLE) / (sa.scnt * sb.scnt) DESC, a, b
         |  LIMIT 1)
         |SELECT doc_id,
         |  CAST(sum(length(tok)
         |    - (length(tok) - length(replace(tok, (SELECT m FROM best), ''))) // 2)
         |    AS BIGINT) AS n_tok
         |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t24_unigram_seed_vocab",
      // the SentencePiece unigram trainer's seeding step (Kudo 2018):
      // frequent substrings (≤6 chars) of dictionary pre-tokens scored
      // by occurrence-count × length, top 200 with a deterministic
      // (score desc, piece) order — a pure dictionary-sized aggregate,
      // value-gated end to end.
      (s, dir) =>
        Unigram.seedVocab(docs(s, dir), maxPieceLen = 6, seedSize = 200),
      s"""WITH toks AS (
         |  SELECT unnest(regexp_extract_all(text, '$bpeReSql')) AS tok FROM documents
         |), wf AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
         |subs AS (
         |  SELECT f, unnest(flatten(list_transform(generate_series(1, length(tok)), i ->
         |    list_transform(generate_series(1, least(6, length(tok) - i + 1)), l ->
         |      substr(tok, i, l))))) AS piece
         |  FROM wf)
         |SELECT piece, CAST(sum(f * length(piece)) AS BIGINT) AS score
         |FROM subs GROUP BY 1 ORDER BY score DESC, piece LIMIT 200""".stripMargin
    ),
    QueryDef(
      "t25_unigram_tokens",
      // the full unigram-LM tokenizer (seed → 4 EM rounds of Viterbi
      // E-step + renormalizing M-step → encode-by-join): per-doc piece
      // counts. EM is not SQL-iterable — rows-only, gated by t24's
      // oracle on the seeding step plus UnigramSpec's hand-exact
      // Viterbi, tiebreak, and conservation pins.
      (s, dir) => {
        val trained = Unigram.train(docs(s, dir), emIters = 4)
        Unigram.tokenCounts(docs(s, dir), trained).orderBy("doc_id")
      },
      None),
    QueryDef(
      "t18_bpe_learned_tokens",
      // Real learned-vocabulary token counts at depth the oracle cannot
      // iterate (48 merges): the scale-adaptive in-memory trainer (the
      // dictionary is vocabulary-sized — union-find precedent) then the
      // same encode-by-join. Gated by t17's full oracle on the identical
      // machinery at depth 1 plus BpeSpec's distributed ≡ in-memory ≡
      // textbook-reference equalities; registered rows-only.
      (s, dir) => {
        val trained = Bpe.train(docs(s, dir), numMerges = 48)
        Bpe.tokenCounts(docs(s, dir), trained).orderBy("doc_id")
      },
      None),
    QueryDef(
      "d55_shard_manifest",
      // Training export: token-balanced shard assignment (8 shards,
      // hash-shuffle global order, each doc whole in one shard, running
      // sums via the two-phase prefixSums scan) summarized as the
      // loader-facing manifest. The oracle replays order, cumulative
      // sums, and the exact boundary arithmetic.
      (s, dir) =>
        Curation.shardManifest(Curation.shardAssign(docs(s, dir), 8))
          .orderBy("shard"),
      """WITH t AS (
        |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS ord,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, toks,
        |    sum(toks) OVER (ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    (SELECT greatest(sum(toks), 1) FROM t) AS total
        |  FROM t
        |), a AS (SELECT least((cum - toks) * 8 // total, 7) AS shard, toks FROM c)
        |SELECT CAST(shard AS INTEGER) AS shard, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(toks) AS BIGINT) AS tokens
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d57_dedup_winnow_curated",
      // the winnow family's keeper: d54's pairs → transitive components
      // (large/small-star) → keep cluster minima + singletons. Same
      // composition as d10 with the positional sub-token signal; the
      // oracle chains the winnow SQL into d09's recursive closure.
      (s, dir) => {
        val pairs = Dedup.winnowPairs(docs(s, dir), tau = 0.4, maxHashFreq = 64)
        val clusters = Dedup.connectedComponents(pairs.select("a", "b"))
        docs(s, dir).select(col("doc_id"))
          .join(clusters.where(col("id") =!= col("root"))
            .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
          .orderBy("doc_id")
      },
      s"""${winnowCtes.replace("WITH bx", "WITH RECURSIVE bx")},
         |fp AS (
         |  SELECT DISTINCT doc_id AS id, x % $WinnowMod AS h
         |  FROM (SELECT doc_id, unnest(ss) AS x FROM sel)),
         |dfs AS (SELECT h, count(*) AS df FROM fp GROUP BY 1),
         |capped AS (SELECT id, h FROM fp JOIN dfs USING (h) WHERE df <= 64),
         |sizes AS (SELECT id, count(*) AS sz FROM fp GROUP BY 1),
         |inter AS (
         |  SELECT x.id AS a, y.id AS b, count(*) AS c
         |  FROM capped x JOIN capped y ON x.h = y.h AND x.id < y.id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a, b FROM inter
         |  JOIN sizes na ON na.id = a JOIN sizes nb ON nb.id = b
         |  WHERE CAST(c AS DOUBLE) / least(na.sz, nb.sz) >= 0.4),
         |nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> root)
         |ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "t23_text_c4_rules",
      // C4's cleaning pass (Raffel 2020 §2.2) end to end over the
      // enriched fixture: line retention (terminal punct, ≥5 words, no
      // "javascript"), page drops (<3 sentences kept, "lorem ipsum",
      // brace). The oracle rebuilds the SAME enrichment and rules and
      // string-compares the CLEANED TEXT itself plus every count/flag.
      (s, dir) =>
        TextAnalysis.c4Rules(c4Docs(s, dir)).orderBy("doc_id"),
      """WITH lined AS (
        |  SELECT doc_id,
        |         regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS t0
        |  FROM documents
        |), enr AS (
        |  SELECT doc_id,
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(
        |               regexp_replace(
        |                 regexp_replace(t0, '\bdup\b', 'lorem ipsum', 'g'),
        |                 '^batch', 'batch {'),
        |               '(^|\n)sort', '\1javascript', 'g'),
        |             'e(\n|$)', 'e.\1', 'g'),
        |           't(\n|$)', 't!\1', 'g') AS t
        |  FROM lined
        |), k AS (
        |  SELECT doc_id, t, string_split(t, chr(10)) AS ls,
        |    list_filter(string_split(t, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]$')
        |      AND len(regexp_extract_all(l, '\S+')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM enr
        |), c AS (
        |  SELECT doc_id, t, len(ls) AS n_lines, len(kept) AS n_kept,
        |         -- array_to_string([]) is NULL in DuckDB; Spark's
        |         -- array_join([]) is '' — align on ''
        |         coalesce(array_to_string(kept, chr(10)), '') AS cleaned
        |  FROM k
        |)
        |SELECT doc_id,
        |  CAST(n_lines AS INTEGER) AS n_lines,
        |  CAST(n_kept AS INTEGER) AS n_kept,
        |  CAST(len(regexp_extract_all(cleaned, '[.!?]')) AS INTEGER) AS n_sentences,
        |  CASE WHEN contains(lower(t), 'lorem ipsum') THEN 1 ELSE 0 END AS lorem,
        |  CASE WHEN contains(t, '{') THEN 1 ELSE 0 END AS brace,
        |  CASE WHEN len(regexp_extract_all(cleaned, '[.!?]')) >= 3
        |        AND NOT contains(lower(t), 'lorem ipsum')
        |        AND NOT contains(t, '{') THEN 1 ELSE 0 END AS keep,
        |  cleaned
        |FROM c ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d60_dedup_winnow_incremental",
      // the winnow signal's incremental face: index built over the %3≠0
      // split (persisted, reloaded), the %3=0 split arrives as the
      // delivery — cross pairs at containment ≥ 0.4 under the combined
      // (index + batch) df ≤ 64 cap. The oracle winnows the whole
      // corpus in SQL, splits it, and replays cap/join/verify exactly.
      (s, dir) => {
        val idx = winnowIdxFor(s, dir)
        idx.dedupBatch(docs(s, dir).where(col("doc_id") % 3 === 0),
            tau = 0.4, maxHashFreq = 64)
          .select(col("doc_id"), col("dup_of"),
            round(col("sim"), 4).as("sim"))
          .orderBy("doc_id", "dup_of")
      },
      s"""$winnowCtes,
         |fp AS (
         |  SELECT DISTINCT doc_id AS id, x % $WinnowMod AS h
         |  FROM (SELECT doc_id, unnest(ss) AS x FROM sel)),
         |bfp AS (SELECT * FROM fp WHERE id % 3 = 0),
         |ifp AS (SELECT * FROM fp WHERE id % 3 <> 0),
         |dfc AS (
         |  SELECT h, coalesce(i.c, 0) + b.c AS df
         |  FROM (SELECT h, count(*) AS c FROM bfp GROUP BY 1) b
         |  LEFT JOIN (SELECT h, count(*) AS c FROM ifp GROUP BY 1) i USING (h)),
         |cap AS (SELECT h FROM dfc WHERE df <= 64),
         |inter AS (
         |  SELECT x.id AS a, y.id AS b, count(*) AS c
         |  FROM bfp x JOIN ifp y ON x.h = y.h
         |  WHERE x.h IN (SELECT h FROM cap)
         |  GROUP BY 1, 2),
         |sza AS (SELECT id, count(*) AS sz FROM bfp GROUP BY 1),
         |szb AS (SELECT id, count(*) AS sz FROM ifp GROUP BY 1)
         |SELECT a AS doc_id, b AS dup_of,
         |  round(CAST(c AS DOUBLE) / least(na.sz, nb.sz), 4) AS sim
         |FROM inter JOIN sza na ON na.id = a JOIN szb nb ON nb.id = b
         |WHERE CAST(c AS DOUBLE) / least(na.sz, nb.sz) >= 0.4
         |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d61_soft_winnow_weights",
      // d51's downweighting rule over the positional signal: winnow
      // pairs → transitive components → weight 1/|cluster| — the
      // refactored softWeightsFromPairs accepts any pair stream. Oracle
      // = the winnow pair SQL chained into d51's recursive closure.
      (s, dir) =>
        Curation.softWeightsFromPairs(docs(s, dir),
          Dedup.winnowPairs(docs(s, dir), tau = 0.4, maxHashFreq = 64))
          .orderBy("doc_id"),
      s"""${winnowCtes.replace("WITH bx", "WITH RECURSIVE bx")},
         |fp AS (
         |  SELECT DISTINCT doc_id AS id, x % $WinnowMod AS h
         |  FROM (SELECT doc_id, unnest(ss) AS x FROM sel)),
         |dfs AS (SELECT h, count(*) AS df FROM fp GROUP BY 1),
         |capped AS (SELECT id, h FROM fp JOIN dfs USING (h) WHERE df <= 64),
         |sizes AS (SELECT id, count(*) AS sz FROM fp GROUP BY 1),
         |inter AS (
         |  SELECT x.id AS a, y.id AS b, count(*) AS c
         |  FROM capped x JOIN capped y ON x.h = y.h AND x.id < y.id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a, b FROM inter
         |  JOIN sizes na ON na.id = a JOIN sizes nb ON nb.id = b
         |  WHERE CAST(c AS DOUBLE) / least(na.sz, nb.sz) >= 0.4),
         |nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1
         |), sized AS (
         |  SELECT id, root, count(*) OVER (PARTITION BY root) AS csz FROM comp
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(s.root, d.doc_id) AS BIGINT) AS root,
         |  CAST(coalesce(s.csz, 1) AS BIGINT) AS cluster_size,
         |  1.0 / coalesce(s.csz, 1) AS weight
         |FROM documents d LEFT JOIN sized s ON s.id = d.doc_id
         |ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d59_line_dedup_within",
      // intra-document line dedup (the within-page complement of d32's
      // corpus-wide pass): later duplicate lines inside ONE document
      // drop, short lines exempt. Pure per-doc Column HOF — no shuffle.
      // Enrichment re-appends each doc's first line so every doc
      // carries a guaranteed duplicate.
      (s, dir) => {
        val enr = linedDocs(s, dir).withColumn("text",
          concat(col("text"), lit("\n"),
            element_at(split(col("text"), "\n"), 1)))
        Dedup.dedupLinesWithin(enr, minLen = 15).orderBy("doc_id")
      },
      """WITH lined AS (
        |  SELECT doc_id,
        |         regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS t0
        |  FROM documents
        |), enr AS (
        |  SELECT doc_id, t0 || chr(10) || string_split(t0, chr(10))[1] AS t
        |  FROM lined
        |), k AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM enr),
        |f AS (
        |  SELECT doc_id, ls,
        |    list_filter(ls, (l, i) -> length(l) < 15 OR list_position(ls, l) = i)
        |      AS kept
        |  FROM k)
        |SELECT doc_id, CAST(len(ls) AS INTEGER) AS n_lines,
        |  CAST(len(ls) - len(kept) AS INTEGER) AS n_dropped,
        |  coalesce(array_to_string(kept, chr(10)), '') AS text
        |FROM f ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d58_offline_pipeline",
      // the batch curation capstone over this round's operators: C4
      // clean (t23) → exact dedup on the CLEANED text (planted clones
      // of the %25 docs make the stage live — they survive C4 iff the
      // original does, then dedup drops them) → token-balanced shard
      // manifest over the survivors (d55, 4 shards, tokens counted on
      // the cleaned text). One oracle chains all three stages' SQL.
      (s, dir) => {
        val base = c4Docs(s, dir)
        val clones = base.where(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
        val corpus = base.select("doc_id", "text").unionByName(clones)
        val cleaned = TextAnalysis.c4Rules(corpus).where(col("keep") === 1)
          .select(col("doc_id"), col("cleaned").as("text"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
        val kept = cleaned
          .withColumn("fp", TextAnalysis.fingerprint(col("text")))
          .withColumn("kp", min("doc_id").over(w))
          .where(col("doc_id") === col("kp"))
          .select("doc_id", "text")
        Curation.shardManifest(Curation.shardAssign(kept, 4)).orderBy("shard")
      },
      """WITH corpus0 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000, text FROM documents WHERE doc_id % 25 = 0
        |), lined AS (
        |  SELECT doc_id,
        |         regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS t0
        |  FROM corpus0
        |), enr AS (
        |  SELECT doc_id,
        |         regexp_replace(
        |           regexp_replace(
        |             regexp_replace(
        |               regexp_replace(
        |                 regexp_replace(t0, '\bdup\b', 'lorem ipsum', 'g'),
        |                 '^batch', 'batch {'),
        |               '(^|\n)sort', '\1javascript', 'g'),
        |             'e(\n|$)', 'e.\1', 'g'),
        |           't(\n|$)', 't!\1', 'g') AS t
        |  FROM lined
        |), k AS (
        |  SELECT doc_id, t,
        |    list_filter(string_split(t, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]$')
        |      AND len(regexp_extract_all(l, '\S+')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM enr
        |), c AS (
        |  SELECT doc_id, t,
        |         coalesce(array_to_string(kept, chr(10)), '') AS cleaned
        |  FROM k
        |), pass AS (
        |  SELECT doc_id, cleaned FROM c
        |  WHERE len(regexp_extract_all(cleaned, '[.!?]')) >= 3
        |    AND NOT contains(lower(t), 'lorem ipsum')
        |    AND NOT contains(t, '{')
        |), fpd AS (
        |  SELECT doc_id, cleaned,
        |    md5(trim(regexp_replace(lower(cleaned), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM pass
        |), kept2 AS (
        |  SELECT doc_id, cleaned FROM (
        |    SELECT doc_id, cleaned, min(doc_id) OVER (PARTITION BY fp) AS kp
        |    FROM fpd)
        |  WHERE doc_id = kp
        |), t2 AS (
        |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS ord,
        |    CAST(len(regexp_extract_all(cleaned, '[A-Za-z0-9]+')) AS BIGINT) AS toks
        |  FROM kept2
        |), c2 AS (
        |  SELECT doc_id, toks,
        |    sum(toks) OVER (ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    (SELECT greatest(sum(toks), 1) FROM t2) AS total
        |  FROM t2
        |), a AS (SELECT least((cum - toks) * 4 // total, 3) AS shard, toks FROM c2)
        |SELECT CAST(shard AS INTEGER) AS shard, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(toks) AS BIGINT) AS tokens
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d40_score_buckets",
      // CCNet's rank-and-keep step end to end: unigram-LM NLL scores
      // (t11's model, rounded before ranking so both engines rank
      // identical values) bucketed into 3 equal-frequency tiers per
      // source via the two-phase prefix-sum rank — tier 1 = best.
      (s, dir) =>
        Curation.bucketByScore(nllScored(s, dir), buckets = 3)
          .orderBy("source", "doc_id"),
      d40Sql
    ),
    QueryDef(
      "d72_score_buckets_approx",
      // d40's 100 TB shape (the d70/t32 approx-twin pattern applied to
      // the CCNet rank-and-keep step): tier thresholds come from
      // percentile_approx — ONE map-combinable aggregate plus a
      // broadcast threshold join — instead of the exact rank's range
      // shuffle of every score in the corpus. Approximate by
      // construction → rows-only here; d40 is the exact oracle twin,
      // ExtSpec pins tier agreement/populations on this fixture, and
      // PlanAuditSpec pins the no-range-exchange / no-window plan.
      (s, dir) =>
        Curation.bucketByScoreApprox(nllScored(s, dir), buckets = 3)
          .orderBy("source", "doc_id"),
      None),
    QueryDef(
      "d72b_score_buckets_pinned",
      // d72's threshold-join/tier arithmetic HASH-GATED (r11 verdict
      // #4, the d69 pinned-coefficients move): the sketch stays
      // rows-only in d72, but the downstream assignment is a
      // deterministic function of whatever boundary table rides the
      // broadcast join — so inject PINNED thresholds (exact per-source
      // tertiles of the 4dp-rounded scores, rounded to 6dp to wash
      // interpolation ulps) into bucketByScoreApprox's thresholds hook
      // AND the DuckDB oracle, and the whole join + duplicate-threshold
      // tier count value-gates.
      (s, dir) => {
        val thr = nllScored(s, dir).groupBy("source")
          .agg(expr(
            "transform(percentile(score, array(1.0D/3, 2.0D/3)), t -> round(t, 6))")
            .as("__thr"))
        Curation.bucketByScoreApprox(nllScored(s, dir), buckets = 3,
            thresholds = Some(thr))
          .orderBy("source", "doc_id")
      },
      s"""$scoredCtes, thr AS (
         |  SELECT source,
         |         round(quantile_cont(score, 1.0/3), 6) AS t1,
         |         round(quantile_cont(score, 2.0/3), 6) AS t2
         |  FROM scored GROUP BY 1
         |)
         |SELECT s.source, s.doc_id, s.score,
         |       CAST(1 + (CASE WHEN s.score > t.t1 THEN 1 ELSE 0 END)
         |              + (CASE WHEN s.score > t.t2 THEN 1 ELSE 0 END)
         |            AS INTEGER) AS tier
         |FROM scored s JOIN thr t USING (source)
         |ORDER BY 1, 2""".stripMargin),
    QueryDef(
      "t09_text_repetition",
      // Gopher-style repetition signals at token granularity (the fixture
      // has no line structure but repeats tokens heavily): duplicate-token
      // fraction + the most frequent 2-gram's character-coverage fraction.
      (s, dir) => TextAnalysis.repetitionSignals(docs(s, dir)).orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars_m, regexp_extract_all(text, '\S+') AS tok
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, tok[CAST(u.i AS INTEGER)] || ' ' || tok[CAST(u.i AS INTEGER) + 1] AS gram
        |  FROM t, UNNEST(range(1, len(tok))) AS u(i)
        |), c AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
        |), b AS (
        |  SELECT doc_id, gram AS top_gram, cnt AS top_cnt,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
        |  FROM c
        |)
        |SELECT t.doc_id, CAST(len(tok) AS INTEGER) AS n_tok,
        |  round(CASE WHEN len(tok) = 0 THEN 0.0 ELSE
        |    CAST(len(tok) - len(list_distinct(tok)) AS DOUBLE) / len(tok) END, 4) AS dup_frac,
        |  b.top_gram,
        |  round(coalesce(b.top_cnt * CAST(length(b.top_gram) AS DOUBLE)
        |    / greatest(CAST(n_chars_m AS DOUBLE), 1.0), 0.0), 4) AS top_frac
        |FROM t LEFT JOIN (SELECT * FROM b WHERE rn = 1) b USING (doc_id)
        |ORDER BY 1""".stripMargin
    ),

    // ---- dedup --------------------------------------------------------
    QueryDef(
      "d01_dedup_exact",
      (s, dir) => Dedup.exactGroups(docs(s, dir)).orderBy("fp"),
      s"""SELECT $fpSql AS fp, min(doc_id) AS keeper, count(*) AS n
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d73_dedup_exact_priority",
      // d01 with the production keeper rule: the most-TRUSTED copy wins,
      // not the smallest id (RedPajama/Dolma/FineWeb's cross-source
      // preference). The fixture has no exact dups, so curated clones of
      // every 20th doc are planted at doc_id+100000 — the clone has the
      // LARGER id but priority 0, so every dup group's keeper is the
      // clone: the oracle value-gates that priority really overrides the
      // min-id convention, not just reproduces it.
      (s, dir) => {
        val d = docs(s, dir)
        val aug = d.select(col("doc_id"), col("text"), col("source"))
          .unionByName(d.where(col("doc_id") % 20 === 0)
            .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
              lit("curated").as("source")))
          .withColumn("prio",
            when(col("source") === "curated", 0L).otherwise(1L))
        Dedup.exactGroupsPriority(aug, "prio").orderBy("fp")
      },
      s"""WITH aug AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text, 'curated' AS source
         |  FROM documents WHERE doc_id % 20 = 0
         |), pr AS (
         |  SELECT doc_id, $fpSql AS fp,
         |         CASE WHEN source = 'curated' THEN 0 ELSE 1 END AS prio
         |  FROM aug
         |), r AS (
         |  SELECT fp, doc_id,
         |         row_number() OVER (PARTITION BY fp ORDER BY prio, doc_id) AS rn,
         |         count(*) OVER (PARTITION BY fp) AS n
         |  FROM pr
         |)
         |SELECT fp, CAST(doc_id AS BIGINT) AS keeper, CAST(n AS BIGINT) AS n
         |FROM r WHERE rn = 1 ORDER BY fp""".stripMargin
    ),
    QueryDef(
      "d02_dedup_jaccard",
      (s, dir) =>
        Dedup.jaccardPairs(docs(s, dir), n = 3, tau = 0.3,
          shingled = Some(shinglesFor(s, dir, 3))).orderBy("a", "b"),
      jaccardSql(0.3)),
    QueryDef(
      "d41_dedup_containment",
      // Broder containment pairs: |S_a ∩ S_b| / min(|S_a|, |S_b|) — the
      // asymmetric subsumption signal (short doc quoted inside a long
      // one) that Jaccard's union denominator washes out. Same shingle
      // dictionary and blocked join as d02; only the verify ratio
      // differs, so the oracle is jaccardSql's shape with least().
      (s, dir) =>
        Dedup.containmentPairs(docs(s, dir), n = 3, tau = 0.5,
          shingled = Some(shinglesFor(s, dir, 3)))
          .select(col("a"), col("b"), round(col("containment"), 4).as("containment"))
          .orderBy("a", "b"),
      s"""$shingleCapCtes
         |SELECT a, b,
         |  round(CAST(c AS DOUBLE) / CAST(least(na.sz, nb.sz) AS DOUBLE), 4) AS containment
         |FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
         |WHERE CAST(c AS DOUBLE) / CAST(least(na.sz, nb.sz) AS DOUBLE) >= 0.5
         |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d03_dedup_minhash",
      // k=128, bands=64 (rows=2): candidate miss prob at j=0.5 is
      // (1-0.25)^64 ≈ 1e-8 — LSH recall is effectively exact, and exact
      // Jaccard verification makes precision exact, so the brute-force
      // oracle applies.
      (s, dir) =>
        Dedup
          .minhashDuplicates(docs(s, dir), n = 3, tau = 0.5, k = 128, bands = 64,
            shingled = Some(shinglesFor(s, dir, 3)),
            signatures = Some(minhashSigsFor(s, dir, 3, 128)))
          .orderBy("a", "b"),
      jaccardSql(0.5, capped = false)),
    QueryDef(
      "d67_dedup_minhash_oph",
      // d03 on ONE-PERMUTATION signatures (rotation-densified OPH):
      // the signature build hashes each shingle once instead of k=128
      // times — the at-scale MinHash default. Banding recall at these
      // parameters stays effectively 1 and the pipeline still verifies
      // EXACT Jaccard, so the same brute-force oracle value-gates the
      // whole path (any densification bug that costs a candidate shows
      // up as a missing row).
      (s, dir) =>
        Dedup
          .minhashDuplicatesOPH(docs(s, dir), n = 3, tau = 0.5, k = 128,
            bands = 64, shingled = Some(shinglesFor(s, dir, 3)))
          .orderBy("a", "b"),
      jaccardSql(0.5, capped = false)),
    QueryDef(
      "d71_dedup_oph_densified",
      // d67's densification edge, value-gated (r10 verdict #7): on the
      // natural fixture every doc fills enough of the 128 OPH buckets
      // that rotation densification barely binds. This derived corpus
      // (first 6 words of every doc → exactly 4 trigram shingles ≪
      // k=128, so ~124 of 128 buckets are densified per signature)
      // makes the rotation path THE signature: banding recall over
      // densified values stays ~1 at 64 bands × 2 rows (worst in-set
      // agreement ≈ 0.6 → miss prob ≈ (1−0.36)^64 ≈ 3e-13) and verify
      // is exact Jaccard, so the brute-force oracle applies — 25 pairs
      // on this fixture, each j = 1 or 0.6, all densified-bucket-borne.
      (s, dir) =>
        Dedup
          .minhashDuplicatesOPH(
            docs(s, dir).select(col("doc_id"),
              concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 6))
                .as("text")),
            n = 3, tau = 0.5, k = 128, bands = 64)
          .orderBy("a", "b"),
      """WITH s AS (
        |  SELECT doc_id,
        |    array_to_string(regexp_split_to_array(text, '\s+')[1:6], ' ') AS stext
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
        |  FROM (SELECT doc_id, regexp_split_to_array(stext, '\s+') AS ws FROM s)
        |), sz AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |  FROM tri x JOIN tri y
        |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT a, b, CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) AS jaccard
        |FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
        |WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
        |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d65_dedup_minhash_edit",
      // the code-corpus dedup recipe: MinHash blocking + Jaccard verify
      // (d03 verbatim) CONFIRMED by normalized edit similarity ≥ 0.95 —
      // the order-sensitive second verify that drops permutation-only
      // "near-dups". Binds on this fixture: one d03 pair (edit_sim
      // ≈ 0.937) is pruned, so the oracle row count proves the filter
      // fired. Both sims are single IEEE divisions of exact integers —
      // no rounding needed.
      (s, dir) =>
        Dedup
          .minhashDuplicates(docs(s, dir), n = 3, tau = 0.5, k = 128, bands = 64,
            shingled = Some(shinglesFor(s, dir, 3)),
            signatures = Some(minhashSigsFor(s, dir, 3, 128)),
            editTau = Some(0.95))
          .orderBy("a", "b"),
      s"""$shingleUncappedCtes
         |, p AS (
         |  SELECT a, b, CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) AS jaccard
         |  FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
         |)
         |SELECT a, b, jaccard,
         |  1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
         |    / CAST(greatest(length(da.text), length(db.text), 1) AS DOUBLE)
         |    AS edit_sim
         |FROM p JOIN documents da ON da.doc_id = a
         |       JOIN documents db ON db.doc_id = b
         |WHERE 1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
         |    / CAST(greatest(length(da.text), length(db.text), 1) AS DOUBLE)
         |    >= 0.95
         |ORDER BY 1, 2""".stripMargin),
    QueryDef(
      "d66_chunk_dedup",
      // passage-granularity exact dedup: the chunkDocs windows (t30)
      // fingerprinted with the d01 canonical key, repeated chunks
      // resolved to their first (doc_id, chunk_idx) occurrence — the
      // RefinedWeb-style "dedup below document level" composition,
      // binding on this fixture (27 repeated chunk fingerprints).
      (s, dir) =>
        TextAnalysis.chunkDocs(docs(s, dir), chunkTokens = 32, overlap = 0)
          .withColumn("fp", TextAnalysis.fingerprint(col("chunk")))
          .groupBy("fp")
          .agg(count(lit(1)).as("n_copies"),
            min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
          .where(col("n_copies") > 1)
          .select(col("fp"), col("k.doc_id").as("keep_doc"),
            col("k.chunk_idx").as("keep_idx"), col("n_copies"))
          .orderBy("fp"),
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents
        |), st AS (
        |  SELECT doc_id, ws,
        |         unnest(generate_series(0, (len(ws) - 1) // 32)) AS i
        |  FROM tok
        |), c AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |         array_to_string(ws[i*32+1 : i*32+32], ' ') AS chunk
        |  FROM st
        |), f AS (
        |  SELECT doc_id, chunk_idx,
        |         md5(trim(regexp_replace(lower(chunk), '[^a-z0-9]+', ' ', 'g')))
        |           AS fp
        |  FROM c
        |), g AS (
        |  SELECT fp, CAST(count(*) AS BIGINT) AS n_copies
        |  FROM f GROUP BY 1 HAVING count(*) > 1
        |), k AS (
        |  SELECT fp, doc_id, chunk_idx,
        |         row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx)
        |           AS rn
        |  FROM f
        |)
        |SELECT g.fp, k.doc_id AS keep_doc, k.chunk_idx AS keep_idx, g.n_copies
        |FROM g JOIN k USING (fp) WHERE k.rn = 1 ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d09_dedup_clusters",
      // transitive duplicate-cluster resolution: exact-Jaccard pairs →
      // large/small-star connected components → (id, root=min id,
      // cluster size). Oracle recomputes the closure with a recursive
      // CTE (label l reaches id; min label per id = component root).
      (s, dir) => clustersFor(s, dir, 0.3).orderBy("id"),
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents
         |), tri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM tok
         |), rare AS (
         |  SELECT shingle FROM tri GROUP BY 1 HAVING count(*) <= 1000
         |), cap AS (
         |  SELECT doc_id, shingle FROM tri JOIN rare USING (shingle)
         |), sz AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM cap x JOIN cap y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |), pairs AS (
         |  SELECT a, b
         |  FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.3
         |), nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1)
         |SELECT CAST(id AS BIGINT) AS id, CAST(root AS BIGINT) AS root,
         |  CAST(count(*) OVER (PARTITION BY root) AS BIGINT) AS cluster_size
         |FROM comp ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d74_dedup_cluster_priority",
      // d09's transitive closure with the d73 keeper rule lifted to
      // clusters: each component elects its (priority, id)-minimum
      // member, not the min-id root. Priority = 9 − source digit (src9
      // most trusted), so clusters spanning sources elect a keeper that
      // DIFFERS from the root — the oracle value-gates that the
      // election overrides the root convention. Pairs use the capped
      // engine path (jaccardPairs' df ≤ 1000 blocking), mirrored by the
      // capped CTEs per the r11 oracle-cap convention.
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = Dedup.jaccardPairs(d, n = 3, tau = 0.3,
          shingled = Some(shinglesFor(s, dir, 3)))
        val prio = d.select(col("doc_id"),
          (lit(9) - substring(col("source"), 4, 1).cast("int")).as("priority"))
        Dedup.clusterKeepersPriority(pairs, prio).orderBy("id")
      },
      s"""WITH RECURSIVE ${shingleCapCtes.stripPrefix("WITH ")},
         |pairs AS (
         |  SELECT a, b
         |  FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.3
         |), nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1),
         |pr AS (
         |  SELECT c.id, c.root,
         |         9 - CAST(substring(d.source, 4, 1) AS INTEGER) AS prio
         |  FROM comp c JOIN documents d ON d.doc_id = c.id
         |), k AS (
         |  SELECT root, id AS keeper,
         |         row_number() OVER (PARTITION BY root ORDER BY prio, id) AS rn
         |  FROM pr
         |)
         |SELECT CAST(p.id AS BIGINT) AS id, CAST(p.root AS BIGINT) AS root,
         |       CAST(k.keeper AS BIGINT) AS keeper
         |FROM pr p JOIN (SELECT root, keeper FROM k WHERE rn = 1) k USING (root)
         |ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d81_dedup_stream_priority",
      // the d73/d74 election on the STREAMING face (r11 verdict #3):
      // a prioritized MinHash index over the crawl seed, then two
      // deliveries through StreamingDedup's (priority, id) keeper rule.
      // Planted late-arriving trusted clones value-gate the exactly-
      // once resolution: a curated clone of an indexed doc is KEPT (the
      // indexed copy is not retracted), a curated/crawl novel pair
      // elects the curated LARGER id over min-id, and a crawl
      // re-delivery drops with the (prio, id)-min match as dup_of.
      // Full oracle: both batches' verdicts recomputed in SQL — exact
      // jaccard pairs, windowed cross election, recursive-CTE closure
      // + priority election per batch, index state = seed ∪ batch-0
      // survivors for batch 1. The shared CTEs are MATERIALIZED:
      // inlined, the two recursions re-expand the whole
      // jaccard-over-3-slices pipeline per iteration and DuckDB runs
      // out of file descriptors re-opening documents.parquet.
      (s, dir) =>
        prioStreamVerdictsFor(s, dir)
          .select(col("batch").cast("int").as("batch"), col("doc_id"),
            col("verdict"), col("dup_of"))
          .orderBy("batch", "doc_id"),
      """WITH RECURSIVE seed AS (
        |  SELECT doc_id, 1.0 AS prio, text FROM documents WHERE doc_id % 5 <> 0
        |), b0 AS (
        |  SELECT doc_id, 1.0 AS prio, text FROM documents WHERE doc_id % 5 = 0
        |), b1 AS (
        |  SELECT doc_id + 100000 AS doc_id, 0.0 AS prio, text FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 1.0, reverse(text) FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, 0.0, reverse(text) FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id + 400000, 1.0, text FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 13 = 0
        |), allc AS MATERIALIZED (
        |  SELECT doc_id, text FROM seed UNION ALL
        |  SELECT doc_id, text FROM b0 UNION ALL
        |  SELECT doc_id, text FROM b1
        |), tok AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM allc
        |), tri AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
        |  FROM tok
        |), sz AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
        |inter AS MATERIALIZED (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |  FROM tri x JOIN tri y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), jac AS MATERIALIZED (
        |  SELECT a, b FROM inter
        |  JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
        |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
        |), sym AS MATERIALIZED (SELECT a, b FROM jac UNION SELECT b AS a, a AS b FROM jac),
        |m0 AS (
        |  SELECT d.doc_id, s.b AS dup_of, i.prio AS ip, d.prio AS bp
        |  FROM b0 d JOIN sym s ON s.a = d.doc_id JOIN seed i ON i.doc_id = s.b
        |), e0 AS (
        |  SELECT doc_id, dup_of, bp,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY ip, dup_of) AS rn,
        |         min(ip) OVER (PARTITION BY doc_id) AS minip
        |  FROM m0
        |), x0 AS (SELECT doc_id, dup_of FROM e0 WHERE rn = 1 AND minip <= bp),
        |r0 AS MATERIALIZED (
        |  SELECT * FROM b0 WHERE doc_id NOT IN (SELECT doc_id FROM x0)
        |), p0 AS MATERIALIZED (
        |  SELECT a, b FROM jac
        |  WHERE a IN (SELECT doc_id FROM r0) AND b IN (SELECT doc_id FROM r0)
        |), n0 AS (SELECT a AS id FROM p0 UNION SELECT b FROM p0),
        |ed0 AS (SELECT a AS u, b AS v FROM p0 UNION SELECT b, a FROM p0),
        |rc0(id, l) AS (
        |  SELECT id, id FROM n0
        |  UNION
        |  SELECT e.v, r.l FROM rc0 r JOIN ed0 e ON e.u = r.id
        |), c0 AS (SELECT id, min(l) AS root FROM rc0 GROUP BY 1),
        |k0 AS (
        |  SELECT c.root, c.id,
        |         row_number() OVER (PARTITION BY c.root ORDER BY d.prio, c.id) AS rn
        |  FROM c0 c JOIN r0 d ON d.doc_id = c.id
        |), kk0 AS (SELECT root, id AS keeper FROM k0 WHERE rn = 1),
        |bd0 AS (
        |  SELECT c.id AS doc_id, kk0.keeper AS dup_of
        |  FROM c0 c JOIN kk0 USING (root) WHERE c.id <> kk0.keeper
        |), s0 AS MATERIALIZED (
        |  SELECT * FROM r0 WHERE doc_id NOT IN (SELECT doc_id FROM bd0)
        |), idx1 AS MATERIALIZED (
        |  SELECT doc_id, prio FROM seed UNION ALL SELECT doc_id, prio FROM s0
        |), m1 AS (
        |  SELECT d.doc_id, s.b AS dup_of, i.prio AS ip, d.prio AS bp
        |  FROM b1 d JOIN sym s ON s.a = d.doc_id JOIN idx1 i ON i.doc_id = s.b
        |), e1 AS (
        |  SELECT doc_id, dup_of, bp,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY ip, dup_of) AS rn,
        |         min(ip) OVER (PARTITION BY doc_id) AS minip
        |  FROM m1
        |), x1 AS (SELECT doc_id, dup_of FROM e1 WHERE rn = 1 AND minip <= bp),
        |r1 AS MATERIALIZED (
        |  SELECT * FROM b1 WHERE doc_id NOT IN (SELECT doc_id FROM x1)
        |), p1 AS MATERIALIZED (
        |  SELECT a, b FROM jac
        |  WHERE a IN (SELECT doc_id FROM r1) AND b IN (SELECT doc_id FROM r1)
        |), n1 AS (SELECT a AS id FROM p1 UNION SELECT b FROM p1),
        |ed1 AS (SELECT a AS u, b AS v FROM p1 UNION SELECT b, a FROM p1),
        |rc1(id, l) AS (
        |  SELECT id, id FROM n1
        |  UNION
        |  SELECT e.v, r.l FROM rc1 r JOIN ed1 e ON e.u = r.id
        |), c1 AS (SELECT id, min(l) AS root FROM rc1 GROUP BY 1),
        |k1 AS (
        |  SELECT c.root, c.id,
        |         row_number() OVER (PARTITION BY c.root ORDER BY d.prio, c.id) AS rn
        |  FROM c1 c JOIN r1 d ON d.doc_id = c.id
        |), kk1 AS (SELECT root, id AS keeper FROM k1 WHERE rn = 1),
        |bd1 AS (
        |  SELECT c.id AS doc_id, kk1.keeper AS dup_of
        |  FROM c1 c JOIN kk1 USING (root) WHERE c.id <> kk1.keeper
        |), s1 AS (
        |  SELECT * FROM r1 WHERE doc_id NOT IN (SELECT doc_id FROM bd1)
        |)
        |SELECT CAST(0 AS INTEGER) AS batch, CAST(doc_id AS BIGINT) AS doc_id,
        |       'dup_index' AS verdict, CAST(dup_of AS BIGINT) AS dup_of FROM x0
        |UNION ALL
        |SELECT 0, CAST(doc_id AS BIGINT), 'dup_batch', CAST(dup_of AS BIGINT) FROM bd0
        |UNION ALL
        |SELECT 0, CAST(doc_id AS BIGINT), 'kept', CAST(NULL AS BIGINT) FROM s0
        |UNION ALL
        |SELECT 1, CAST(doc_id AS BIGINT), 'dup_index', CAST(dup_of AS BIGINT) FROM x1
        |UNION ALL
        |SELECT 1, CAST(doc_id AS BIGINT), 'dup_batch', CAST(dup_of AS BIGINT) FROM bd1
        |UNION ALL
        |SELECT 1, CAST(doc_id AS BIGINT), 'kept', CAST(NULL AS BIGINT) FROM s1
        |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d82_gauntlet_priority",
      // d81's election on the COMPOSED gauntlet face (the r11 "what's
      // missing" #2 remainder): StreamingCorpusPipeline with
      // Config.prioCol — the exact stage's cross + in-batch keepers
      // AND the near stage's cross + clusterKeepersPriority all run
      // the (priority, id) election, priorities riding BOTH indexes'
      // prio tables. Planted batch-1 faces bind every election path:
      // trusted exact clones kept at both cross stages (no index
      // rewrite), curated-larger-id pairs beating min-id in BOTH
      // in-batch stages (exact fp groups and near components), and
      // equal-priority re-deliveries dropping with elected refs. Full
      // oracle: quality -> exact cross -> exact in-batch -> near cross
      // -> near in-batch recomputed per batch in SQL, batch-1 index =
      // seed UNION batch-0 survivors.
      (s, dir) =>
        prioGauntletVerdictsFor(s, dir)
          .select(col("batch").cast("int").as("batch"), col("doc_id"),
            col("verdict"), col("ref_id"))
          .orderBy("batch", "doc_id"),
      """WITH RECURSIVE seed AS (
        |  SELECT doc_id, 1.0 AS prio, text FROM documents WHERE doc_id % 5 <> 0
        |), b0 AS (
        |  SELECT doc_id, 1.0 AS prio, text FROM documents WHERE doc_id % 5 = 0
        |), b1 AS (
        |  SELECT doc_id + 100000 AS doc_id, 0.0 AS prio, text FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 1.0, reverse(text) FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, 0.0, reverse(text) || ' qq' FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id + 400000, 1.0, text FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id + 500000, 0.0, text || ' zz' FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 600000, 1.0, text || ' vv' FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 19 = 0
        |  UNION ALL
        |  SELECT doc_id + 700000, 1.0, reverse(text) || ' mm' FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 23 = 0
        |  UNION ALL
        |  SELECT doc_id + 800000, 0.0, reverse(text) || ' mm' FROM documents
        |  WHERE doc_id % 5 <> 0 AND doc_id % 23 = 0
        |), allc AS MATERIALIZED (
        |  SELECT doc_id, text FROM seed UNION ALL
        |  SELECT doc_id, text FROM b0 UNION ALL
        |  SELECT doc_id, text FROM b1
        |), fps AS MATERIALIZED (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM allc
        |), tok AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM allc
        |), tri AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
        |  FROM tok
        |), sz AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
        |inter AS MATERIALIZED (
        |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
        |  FROM tri x JOIN tri y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2
        |), jac AS MATERIALIZED (
        |  SELECT a, b FROM inter
        |  JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
        |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
        |), sym AS MATERIALIZED (SELECT a, b FROM jac UNION SELECT b AS a, a AS b FROM jac),
        |q0 AS MATERIALIZED (SELECT * FROM b0 WHERE length(text) >= 100),
        |xq0 AS (SELECT doc_id FROM b0 WHERE length(text) < 100),
        |exm0 AS (
        |  SELECT d.doc_id, i.doc_id AS ref, i.prio AS ip, d.prio AS bp
        |  FROM q0 d
        |  JOIN fps fd ON fd.doc_id = d.doc_id
        |  JOIN fps fi ON fi.fp = fd.fp AND fi.doc_id <> fd.doc_id
        |  JOIN seed i ON i.doc_id = fi.doc_id
        |), exe0 AS (
        |  SELECT doc_id, ref, bp,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY ip, ref) AS rn,
        |         min(ip) OVER (PARTITION BY doc_id) AS minip
        |  FROM exm0
        |), exx0 AS (SELECT doc_id, ref FROM exe0 WHERE rn = 1 AND minip <= bp),
        |exr0 AS MATERIALIZED (
        |  SELECT * FROM q0 WHERE doc_id NOT IN (SELECT doc_id FROM exx0)
        |), exg0 AS (
        |  SELECT d.doc_id, d.prio, f.fp FROM exr0 d JOIN fps f USING (doc_id)
        |), exk0 AS (
        |  SELECT fp, doc_id AS keeper FROM (
        |    SELECT fp, doc_id,
        |           row_number() OVER (PARTITION BY fp ORDER BY prio, doc_id) AS rn
        |    FROM exg0)
        |  WHERE rn = 1
        |), exb0 AS (
        |  SELECT g.doc_id, k.keeper AS ref
        |  FROM exg0 g JOIN exk0 k USING (fp) WHERE g.doc_id <> k.keeper
        |), exs0 AS MATERIALIZED (
        |  SELECT * FROM exr0 WHERE doc_id NOT IN (SELECT doc_id FROM exb0)
        |), nm0 AS (
        |  SELECT d.doc_id, s.b AS ref, i.prio AS ip, d.prio AS bp
        |  FROM exs0 d JOIN sym s ON s.a = d.doc_id JOIN seed i ON i.doc_id = s.b
        |), ne0 AS (
        |  SELECT doc_id, ref, bp,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY ip, ref) AS rn,
        |         min(ip) OVER (PARTITION BY doc_id) AS minip
        |  FROM nm0
        |), nx0 AS (SELECT doc_id, ref FROM ne0 WHERE rn = 1 AND minip <= bp),
        |nr0 AS MATERIALIZED (
        |  SELECT * FROM exs0 WHERE doc_id NOT IN (SELECT doc_id FROM nx0)
        |), p0 AS MATERIALIZED (
        |  SELECT a, b FROM jac
        |  WHERE a IN (SELECT doc_id FROM nr0) AND b IN (SELECT doc_id FROM nr0)
        |), n0 AS (SELECT a AS id FROM p0 UNION SELECT b FROM p0),
        |ed0 AS MATERIALIZED (SELECT a AS u, b AS v FROM p0 UNION SELECT b, a FROM p0),
        |rc0(id, l) AS (
        |  SELECT id, id FROM n0
        |  UNION
        |  SELECT e.v, r.l FROM rc0 r JOIN ed0 e ON e.u = r.id
        |), c0 AS (SELECT id, min(l) AS root FROM rc0 GROUP BY 1),
        |k0 AS (
        |  SELECT c.root, c.id,
        |         row_number() OVER (PARTITION BY c.root ORDER BY d.prio, c.id) AS rn
        |  FROM c0 c JOIN nr0 d ON d.doc_id = c.id
        |), kk0 AS (SELECT root, id AS keeper FROM k0 WHERE rn = 1),
        |nb0 AS (
        |  SELECT c.id AS doc_id, kk0.keeper AS ref
        |  FROM c0 c JOIN kk0 USING (root) WHERE c.id <> kk0.keeper
        |), s0 AS MATERIALIZED (
        |  SELECT * FROM nr0 WHERE doc_id NOT IN (SELECT doc_id FROM nb0)
        |),
        |idx1 AS MATERIALIZED (
        |  SELECT doc_id, prio FROM seed UNION ALL SELECT doc_id, prio FROM s0
        |),
        |q1 AS MATERIALIZED (SELECT * FROM b1 WHERE length(text) >= 100),
        |xq1 AS (SELECT doc_id FROM b1 WHERE length(text) < 100),
        |exm1 AS (
        |  SELECT d.doc_id, i.doc_id AS ref, i.prio AS ip, d.prio AS bp
        |  FROM q1 d
        |  JOIN fps fd ON fd.doc_id = d.doc_id
        |  JOIN fps fi ON fi.fp = fd.fp AND fi.doc_id <> fd.doc_id
        |  JOIN idx1 i ON i.doc_id = fi.doc_id
        |), exe1 AS (
        |  SELECT doc_id, ref, bp,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY ip, ref) AS rn,
        |         min(ip) OVER (PARTITION BY doc_id) AS minip
        |  FROM exm1
        |), exx1 AS (SELECT doc_id, ref FROM exe1 WHERE rn = 1 AND minip <= bp),
        |exr1 AS MATERIALIZED (
        |  SELECT * FROM q1 WHERE doc_id NOT IN (SELECT doc_id FROM exx1)
        |), exg1 AS (
        |  SELECT d.doc_id, d.prio, f.fp FROM exr1 d JOIN fps f USING (doc_id)
        |), exk1 AS (
        |  SELECT fp, doc_id AS keeper FROM (
        |    SELECT fp, doc_id,
        |           row_number() OVER (PARTITION BY fp ORDER BY prio, doc_id) AS rn
        |    FROM exg1)
        |  WHERE rn = 1
        |), exb1 AS (
        |  SELECT g.doc_id, k.keeper AS ref
        |  FROM exg1 g JOIN exk1 k USING (fp) WHERE g.doc_id <> k.keeper
        |), exs1 AS MATERIALIZED (
        |  SELECT * FROM exr1 WHERE doc_id NOT IN (SELECT doc_id FROM exb1)
        |), nm1 AS (
        |  SELECT d.doc_id, s.b AS ref, i.prio AS ip, d.prio AS bp
        |  FROM exs1 d JOIN sym s ON s.a = d.doc_id JOIN idx1 i ON i.doc_id = s.b
        |), ne1 AS (
        |  SELECT doc_id, ref, bp,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY ip, ref) AS rn,
        |         min(ip) OVER (PARTITION BY doc_id) AS minip
        |  FROM nm1
        |), nx1 AS (SELECT doc_id, ref FROM ne1 WHERE rn = 1 AND minip <= bp),
        |nr1 AS MATERIALIZED (
        |  SELECT * FROM exs1 WHERE doc_id NOT IN (SELECT doc_id FROM nx1)
        |), p1 AS MATERIALIZED (
        |  SELECT a, b FROM jac
        |  WHERE a IN (SELECT doc_id FROM nr1) AND b IN (SELECT doc_id FROM nr1)
        |), n1 AS (SELECT a AS id FROM p1 UNION SELECT b FROM p1),
        |ed1 AS MATERIALIZED (SELECT a AS u, b AS v FROM p1 UNION SELECT b, a FROM p1),
        |rc1(id, l) AS (
        |  SELECT id, id FROM n1
        |  UNION
        |  SELECT e.v, r.l FROM rc1 r JOIN ed1 e ON e.u = r.id
        |), c1 AS (SELECT id, min(l) AS root FROM rc1 GROUP BY 1),
        |k1 AS (
        |  SELECT c.root, c.id,
        |         row_number() OVER (PARTITION BY c.root ORDER BY d.prio, c.id) AS rn
        |  FROM c1 c JOIN nr1 d ON d.doc_id = c.id
        |), kk1 AS (SELECT root, id AS keeper FROM k1 WHERE rn = 1),
        |nb1 AS (
        |  SELECT c.id AS doc_id, kk1.keeper AS ref
        |  FROM c1 c JOIN kk1 USING (root) WHERE c.id <> kk1.keeper
        |), s1 AS MATERIALIZED (
        |  SELECT * FROM nr1 WHERE doc_id NOT IN (SELECT doc_id FROM nb1)
        |)
        |SELECT CAST(0 AS INTEGER) AS batch, CAST(doc_id AS BIGINT) AS doc_id,
        |       'drop_quality' AS verdict, CAST(NULL AS BIGINT) AS ref_id FROM xq0
        |UNION ALL
        |SELECT 0, CAST(doc_id AS BIGINT), 'dup_exact', CAST(ref AS BIGINT) FROM exx0
        |UNION ALL
        |SELECT 0, CAST(doc_id AS BIGINT), 'dup_exact_batch', CAST(ref AS BIGINT) FROM exb0
        |UNION ALL
        |SELECT 0, CAST(doc_id AS BIGINT), 'dup_index', CAST(ref AS BIGINT) FROM nx0
        |UNION ALL
        |SELECT 0, CAST(doc_id AS BIGINT), 'dup_batch', CAST(ref AS BIGINT) FROM nb0
        |UNION ALL
        |SELECT 0, CAST(doc_id AS BIGINT), 'kept', CAST(NULL AS BIGINT) FROM s0
        |UNION ALL
        |SELECT CAST(1 AS INTEGER) AS batch, CAST(doc_id AS BIGINT) AS doc_id,
        |       'drop_quality' AS verdict, CAST(NULL AS BIGINT) AS ref_id FROM xq1
        |UNION ALL
        |SELECT 1, CAST(doc_id AS BIGINT), 'dup_exact', CAST(ref AS BIGINT) FROM exx1
        |UNION ALL
        |SELECT 1, CAST(doc_id AS BIGINT), 'dup_exact_batch', CAST(ref AS BIGINT) FROM exb1
        |UNION ALL
        |SELECT 1, CAST(doc_id AS BIGINT), 'dup_index', CAST(ref AS BIGINT) FROM nx1
        |UNION ALL
        |SELECT 1, CAST(doc_id AS BIGINT), 'dup_batch', CAST(ref AS BIGINT) FROM nb1
        |UNION ALL
        |SELECT 1, CAST(doc_id AS BIGINT), 'kept', CAST(NULL AS BIGINT) FROM s1
        |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d83_line_dedup_priority",
      // d32's keeper rule with the d73 election (r12 verdict #3 — the
      // line face was the last min-id face): the keeper COPY of a
      // duplicate line comes from the most-trusted document, changing
      // which doc sheds the line, never which line survives. Trusted
      // clones of every 20th doc are planted at doc_id+100000 with
      // prio 0: every shared eligible line's keeper must flip from the
      // min-id original to the LARGER-id clone (the original is gutted
      // to its short lines), so the oracle value-gates that priority
      // overrides corpus order rather than reproducing it. Cross-batch
      // the line face stays indexed-wins by design — DEDUP.md's matrix
      // has the rationale; the replay spec covers the streaming face.
      (s, dir) => {
        val d = linedDocs(s, dir)
        val aug = d.select(col("doc_id"), col("text"))
          .unionByName(d.where(col("doc_id") % 20 === 0)
            .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
          .withColumn("prio",
            when(col("doc_id") >= 100000L, 0L).otherwise(1L))
        Dedup.dedupLines(aug, sep = "\n", minLen = 20, prioCol = Some("prio"))
          .orderBy("doc_id")
      },
      """WITH aug AS (
        |  SELECT doc_id, text, 1 AS prio FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text, 0 FROM documents WHERE doc_id % 20 = 0
        |), lined AS (
        |  SELECT doc_id, prio,
        |         regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS t
        |  FROM aug
        |), split AS (
        |  SELECT doc_id, prio, string_split(t, chr(10)) AS ls FROM lined
        |), lines AS (
        |  SELECT doc_id, prio, CAST(u.i AS BIGINT) - 1 AS idx,
        |         ls[CAST(u.i AS INTEGER)] AS line
        |  FROM split, UNNEST(range(1, len(ls) + 1)) AS u(i)
        |), elig AS (
        |  SELECT doc_id, idx, line,
        |         row_number() OVER (PARTITION BY line ORDER BY prio, doc_id, idx) AS rn
        |  FROM lines WHERE length(line) >= 20
        |), kept AS (
        |  SELECT doc_id, idx, line FROM elig WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, idx, line FROM lines WHERE length(line) < 20
        |), agg AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
        |  FROM kept GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(a.text, '') AS text
        |FROM (SELECT doc_id FROM aug) d LEFT JOIN agg a USING (doc_id)
        |ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d84_decontaminate_multibench",
      // Multi-benchmark attribution (r12 verdict #5): production
      // decontamination runs against MANY eval suites and must report
      // WHICH benchmark leaked, how much, and which version. Two named
      // sets are registered ("qa" = doc_id%20, "exams" = doc_id%30 —
      // overlapping at %60, so one bench doc lives in BOTH sets) and
      // three leak classes are planted into the train side: a qa-only
      // clone (+700000), an exams-only clone (+800000), and a clone of
      // a doc in both sets (+900000) that must attribute to BOTH.
      // One combined broadcast check (Σ bench sizes — the registry
      // unions the per-set position tables so the train side pays its
      // df-cap window once, not per suite); exact extents via the same
      // per-char verify d37 gates. Full oracle: per-set positions,
      // per-(train, set, bench, diagonal) runs, and the exactify
      // closure recomputed in SQL with set-qualified partitions.
      (s, dir) =>
        benchRegFor(s, dir).report(multibenchTrain(s, dir))
          .orderBy("doc_id", "bench_set", "bench_id"),
      multibenchSql(qaPred = "doc_id % 20 = 0", qaVer = "v1")
    ),
    QueryDef(
      "d87_decontaminate_reregister",
      // Versioning-by-replacement ON THE FIXTURE (r13 verdict #8; the
      // unit spec compares tiny synthetic suites, this value-gates the
      // real thing): the registry re-registers "qa" at v2 with HALVED
      // membership (doc_id%40) after v1 was built, exams untouched.
      // Same train plants as d84, so the delta is pure re-registration
      // semantics: qa rows flip to the v2 label AND to the replaced
      // index's membership (clones of %20-but-not-%40 docs lose their
      // qa attribution), while exams rows — same slot band — must come
      // out byte-identical to d84's. One parameterized oracle
      // ([[multibenchSql]]) serves both rows.
      (s, dir) =>
        benchRegV2For(s, dir).report(multibenchTrain(s, dir))
          .orderBy("doc_id", "bench_set", "bench_id"),
      multibenchSql(qaPred = "doc_id % 40 = 0", qaVer = "v2")
    ),
    QueryDef(
      "d85_gauntlet_capstone",
      // THE KITCHEN-SINK GATE (r12 verdict #6): every pipeline stage
      // live at once — NFC normalize + t28's trained quality gate +
      // line cleaning + Bloom-gated exact + decontamination + near-dup
      // + winnow + semantic + ngram stats + (priority, id) elections —
      // because stage INTERACTIONS are what no per-stage gate can see.
      // Two interactions are load-bearing by construction and the
      // faces bind them: (a) the line stage runs BEFORE exact, so
      // within-batch whole-text duplicates are line-GUTTED to empty
      // text first and the exact-batch stage groups the gutted docs on
      // fp('') — the +20000 clones and the +190000-elected %50==10
      // bases land there deterministically; (b) NFC runs before
      // everything, so the word-line café pair (+60000/+70000, every
      // line short-exempt from cleaning) is byte-equal only after
      // normalization and its dup_exact_batch verdict proves stage-0
      // ran. Faces for all 11 verdict classes: natural drop_quality
      // (trained gate), +10000 dup_exact (banner-stripped clone — line
      // + Bloom binding), gutted-group dup_exact_batch, +50000
      // contaminated (eval-doc prefix), +30000 dup_index, +40000
      // dup_batch, +100000 dup_winnow (seed excerpt + unique filler:
      // trigram Jaccard below near's tau, byte-run containment above
      // winnow's), +120000/+130000 dup_winnow_batch (shared excerpt of
      // a base doc, trusted keeper elected over min-id), +140000
      // dup_semantic (trusted text clone whose embedding matches the
      // index — the semantic stage's documented no-election contract),
      // +150000/+160000 dup_semantic_batch (one anchor embedding),
      // +80000/+90000/+110000 kept-despite-match (exact/near/winnow
      // cross elections). Oracle: every stage recomputed in SQL over
      // the modeled post-line texts (banner stripped, whole-text
      // within-batch dups gutted — the line-stage effects are
      // construction-known, the d62 approach) with seed prio pinned at
      // 1.0 (so cross elections reduce to "trusted batch docs survive").
      (s, dir) => {
        val (fpP, mhP, spP, smP, wnP, lnP, ngP, vP) = capstonePathsFor(s, dir)
        val d = docs(s, dir)
        val e = emb(s, dir).select(col("vec_id"), col("embedding"))
        val m = classifierFor(s, dir)
        val banner = lit(LnBanner1 + "\n")
        val zero = transform(col("embedding"), _ => lit(0.0f))
        def filler(off: Long) = concat_ws(" ",
          transform(sequence(lit(1), lit(30)),
            i => concat(lit("u"), (col("doc_id") + off).cast("string"),
              lit("x"), i.cast("string"))))
        def excerpt(off: Long) = concat(substring(col("text"), 41, 250),
          lit(" "), filler(off))
        // text is evaluated in a projection BEFORE the id alias: Spark
        // 4's lateral column alias resolution would otherwise bind a
        // doc_id reference inside the text expression (the fillers, the
        // uq suffix) to the ALIASED (offset) id, silently double-
        // offsetting the planted ids the oracle spells once — caught by
        // this gate's own DuckDB compare during r13 bring-up
        def zslice(pred: org.apache.spark.sql.Column, off: Long, prio: Double,
                   text: org.apache.spark.sql.Column) =
          d.where(pred).join(e, col("doc_id") === col("vec_id"))
            .select(col("doc_id"), text.as("__t"), col("embedding"))
            .select((col("doc_id") + off).as("doc_id"), col("__t").as("text"),
              lit(prio).as("prio"), zero.as("embedding"))
        val id = col("doc_id")
        val wordlines = regexp_replace(col("text"), "(\\S+) ", "$1\n")
        val batch = d.where(id % 5 === 0)
          .join(e, id === col("vec_id"))
          .select(id, concat(banner, col("text")).as("text"),
            lit(1.0).as("prio"), col("embedding"))
          .unionByName(zslice(id % 5 =!= 0 && id % 50 === 1, 10000L, 1.0,
            concat(banner, col("text"))))
          .unionByName(zslice(id % 50 === 0, 20000L, 1.0,
            concat(banner, col("text"))))
          .unionByName(zslice(id % 50 === 10, 190000L, 0.0,
            concat(banner, col("text"))))
          .unionByName(zslice(id % 5 =!= 0 && id % 50 === 16, 30000L, 1.0,
            concat(col("text"), lit(" xqz"))))
          .unionByName(zslice(id % 50 === 30, 40000L, 1.0,
            concat(col("text"), lit(" xqz"))))
          .unionByName(zslice(id % 50 === 7 && length(col("text")) >= 300,
            50000L, 1.0,
            concat(substring(col("text"), 1, 200), lit(" uq"),
              (id + 50000L).cast("string"))))
          .unionByName(zslice(id % 50 === 20, 60000L, 1.0,
            concat(wordlines, lit("\ncafé"))))
          .unionByName(zslice(id % 50 === 20, 70000L, 1.0,
            concat(wordlines, lit("\ncafé"))))
          .unionByName(zslice(id % 5 =!= 0 && id % 50 === 11, 80000L, 0.0,
            col("text")))
          .unionByName(zslice(id % 5 =!= 0 && id % 50 === 21, 90000L, 0.0,
            concat(col("text"), lit(" zz"))))
          .unionByName(zslice(id % 5 =!= 0 && id % 50 === 26, 100000L, 1.0,
            excerpt(100000L)))
          .unionByName(zslice(id % 5 =!= 0 && id % 50 === 31, 110000L, 0.0,
            excerpt(110000L)))
          .unionByName(zslice(id % 50 === 45, 120000L, 0.0, excerpt(120000L)))
          .unionByName(zslice(id % 50 === 45, 130000L, 1.0, excerpt(130000L)))
          .unionByName(d.where(id % 5 =!= 0 && id % 50 === 36)
            .join(e, id === col("vec_id"))
            .select((id + 140000L).as("doc_id"), col("text"),
              lit(0.0).as("prio"), col("embedding")))
          .unionByName(d.where(id % 5 =!= 0 && id % 50 === 41)
            .crossJoin(broadcast(e.where(col("vec_id") === 0)
              .select(col("embedding").as("emb0"))))
            .select((id + 150000L).as("doc_id"), col("text"),
              lit(0.0).as("prio"), col("emb0").as("embedding")))
          .unionByName(d.where(id % 5 =!= 0 && id % 50 === 46)
            .crossJoin(broadcast(e.where(col("vec_id") === 0)
              .select(col("embedding").as("emb0"))))
            .select((id + 160000L).as("doc_id"), col("text"),
              lit(0.0).as("prio"), col("emb0").as("embedding")))
        // lineage cut on the 17-branch face union (batch-sized): the
        // batch plan is otherwise REPLICATED into every stage's plan and
        // AQE's per-update explainString rendering of those composed
        // plans alone blew a 12 GiB heap (OOM in PlanStringConcat) —
        // the same reason processBatch cuts its own mid-pipeline frames
        val batchCut = batch.localCheckpoint()
        graft.streaming.StreamingCorpusPipeline.processBatch(
          batchCut, 0L, fpP, mhP, Some(spP), vP,
          graft.streaming.StreamingCorpusPipeline.Config(tau = 0.5,
            minLeak = 2, semTau = 0.35, winTau = 0.4, winMaxDf = 64,
            bloomGate = true, normalizeForm = Some("NFC"),
            prioCol = Some("prio"),
            quality = b => TextAnalysis.linearLogits(b, m.weights, m.bias,
                hasher = Dedup.md5Hash60, ordered = true)
              .select(col("doc_id"),
                when(roundSigned(col("z")) >= 0.00055, 1).otherwise(0)
                  .as("keep"))),
          semPath = Some(smP), winPath = Some(wnP), lnPath = Some(lnP),
          ngPath = Some(ngP))
        s.read.parquet(s"$vP/batch=0")
          .select(col("doc_id"), col("verdict"), col("ref_id"))
          .orderBy("doc_id")
      }, {
        val hexVal = hexValSql
        s"""WITH RECURSIVE seed AS MATERIALIZED (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
           |), braw AS (
           |  SELECT doc_id, 1.0 AS prio, '$LnBanner1' || chr(10) || text AS raw,
           |         CASE WHEN doc_id % 50 = 10 THEN '' ELSE text END AS clean
           |  FROM documents WHERE doc_id % 5 = 0
           |  UNION ALL
           |  SELECT doc_id + 10000, 1.0, '$LnBanner1' || chr(10) || text, text
           |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 50 = 1
           |  UNION ALL
           |  SELECT doc_id + 20000, 1.0, '$LnBanner1' || chr(10) || text, ''
           |  FROM documents WHERE doc_id % 50 = 0
           |  UNION ALL
           |  SELECT doc_id + 190000, 0.0, '$LnBanner1' || chr(10) || text, text
           |  FROM documents WHERE doc_id % 50 = 10
           |  UNION ALL
           |  SELECT doc_id + 30000, 1.0, text || ' xqz', text || ' xqz'
           |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 50 = 16
           |  UNION ALL
           |  SELECT doc_id + 40000, 1.0, text || ' xqz', text || ' xqz'
           |  FROM documents WHERE doc_id % 50 = 30
           |  UNION ALL
           |  SELECT doc_id + 50000, 1.0,
           |         substr(text, 1, 200) || ' uq' || (doc_id + 50000),
           |         substr(text, 1, 200) || ' uq' || (doc_id + 50000)
           |  FROM documents WHERE doc_id % 50 = 7 AND length(text) >= 300
           |  UNION ALL
           |  SELECT doc_id + 60000, 1.0,
           |         regexp_replace(text, '(\\S+) ', '\\1' || chr(10), 'g')
           |           || chr(10) || 'cafe' || chr(769),
           |         regexp_replace(text, '(\\S+) ', '\\1' || chr(10), 'g')
           |           || chr(10) || 'cafe' || chr(769)
           |  FROM documents WHERE doc_id % 50 = 20
           |  UNION ALL
           |  SELECT doc_id + 70000, 1.0,
           |         regexp_replace(text, '(\\S+) ', '\\1' || chr(10), 'g')
           |           || chr(10) || 'caf' || chr(233),
           |         regexp_replace(text, '(\\S+) ', '\\1' || chr(10), 'g')
           |           || chr(10) || 'caf' || chr(233)
           |  FROM documents WHERE doc_id % 50 = 20
           |  UNION ALL
           |  SELECT doc_id + 80000, 0.0, text, text
           |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 50 = 11
           |  UNION ALL
           |  SELECT doc_id + 90000, 0.0, text || ' zz', text || ' zz'
           |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 50 = 21
           |  UNION ALL
           |  SELECT doc_id + 100000, 1.0,
           |         substr(text, 41, 250) || ' ' || array_to_string(
           |           list_transform(generate_series(1, 30),
           |             i -> 'u' || (doc_id + 100000) || 'x' || i), ' '),
           |         substr(text, 41, 250) || ' ' || array_to_string(
           |           list_transform(generate_series(1, 30),
           |             i -> 'u' || (doc_id + 100000) || 'x' || i), ' ')
           |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 50 = 26
           |  UNION ALL
           |  SELECT doc_id + 110000, 0.0,
           |         substr(text, 41, 250) || ' ' || array_to_string(
           |           list_transform(generate_series(1, 30),
           |             i -> 'u' || (doc_id + 110000) || 'x' || i), ' '),
           |         substr(text, 41, 250) || ' ' || array_to_string(
           |           list_transform(generate_series(1, 30),
           |             i -> 'u' || (doc_id + 110000) || 'x' || i), ' ')
           |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 50 = 31
           |  UNION ALL
           |  SELECT doc_id + 120000, 0.0,
           |         substr(text, 41, 250) || ' ' || array_to_string(
           |           list_transform(generate_series(1, 30),
           |             i -> 'u' || (doc_id + 120000) || 'x' || i), ' '),
           |         substr(text, 41, 250) || ' ' || array_to_string(
           |           list_transform(generate_series(1, 30),
           |             i -> 'u' || (doc_id + 120000) || 'x' || i), ' ')
           |  FROM documents WHERE doc_id % 50 = 45
           |  UNION ALL
           |  SELECT doc_id + 130000, 1.0,
           |         substr(text, 41, 250) || ' ' || array_to_string(
           |           list_transform(generate_series(1, 30),
           |             i -> 'u' || (doc_id + 130000) || 'x' || i), ' '),
           |         substr(text, 41, 250) || ' ' || array_to_string(
           |           list_transform(generate_series(1, 30),
           |             i -> 'u' || (doc_id + 130000) || 'x' || i), ' ')
           |  FROM documents WHERE doc_id % 50 = 45
           |  UNION ALL
           |  SELECT doc_id + 140000, 0.0, text, text
           |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 50 = 36
           |  UNION ALL
           |  SELECT doc_id + 150000, 0.0, text, text
           |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 50 = 41
           |  UNION ALL
           |  SELECT doc_id + 160000, 0.0, text, text
           |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 50 = 46
           |), batch AS MATERIALIZED (
           |  SELECT doc_id, prio, nfc_normalize(raw) AS nraw,
           |         nfc_normalize(clean) AS clean
           |  FROM braw
           |), ${trainCtesSql(materializeX = true)}, btok AS (
           |  SELECT doc_id, unnest(regexp_extract_all(nraw, '${TextAnalysis.TokenRe}')) AS tok
           |  FROM batch
           |), bh AS (
           |  SELECT doc_id, CAST(($hexVal) % 64 AS BIGINT) AS bucket FROM btok
           |), bcnt AS (
           |  SELECT doc_id, bucket, count(*) AS cnt FROM bh GROUP BY 1, 2
           |), bn AS (
           |  SELECT doc_id, sqrt(sum(CAST(cnt * cnt AS DOUBLE))) AS nrm
           |  FROM bcnt GROUP BY 1
           |), bxx AS (
           |  SELECT c.doc_id, bucket, CAST(cnt AS DOUBLE) / nrm AS w
           |  FROM bcnt c JOIN bn ON bn.doc_id = c.doc_id
           |), bzz AS (
           |  SELECT bxx.doc_id,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(bxx.w * w1.wt ORDER BY bucket)), (a, b) -> a + b) AS z
           |  FROM bxx JOIN w1 USING (bucket) GROUP BY 1
           |), scored AS MATERIALIZED (
           |  SELECT b.doc_id, b.prio, b.clean AS text,
           |         round(coalesce(bzz.z, 0.0) + b1.bias, 4) + 0.0 AS z
           |  FROM batch b LEFT JOIN bzz USING (doc_id) CROSS JOIN b1
           |), v_q AS (
           |  SELECT doc_id FROM scored WHERE z < 0.00055
           |), rem1 AS MATERIALIZED (
           |  SELECT doc_id, prio, text FROM scored WHERE z >= 0.00055
           |), bf AS MATERIALIZED (
           |  SELECT doc_id, prio, $fpSql AS fp FROM rem1
           |), sf AS (
           |  SELECT doc_id, $fpSql AS fp FROM seed
           |), v_exc AS MATERIALIZED (
           |  -- cross election, seed prio pinned 1.0: a batch doc drops
           |  -- iff its own prio >= 1.0; trusted (prio 0) clones survive
           |  SELECT b.doc_id, min(s.doc_id) AS ref
           |  FROM bf b JOIN sf s USING (fp) WHERE b.prio >= 1.0 GROUP BY 1
           |), bf2 AS MATERIALIZED (
           |  SELECT * FROM bf WHERE doc_id NOT IN (SELECT doc_id FROM v_exc)
           |), keep2 AS (
           |  SELECT fp, doc_id AS keeper FROM (
           |    SELECT fp, doc_id,
           |           row_number() OVER (PARTITION BY fp ORDER BY prio, doc_id) AS rn
           |    FROM bf2)
           |  WHERE rn = 1
           |), v_exb AS MATERIALIZED (
           |  SELECT b.doc_id, k2.keeper AS ref
           |  FROM bf2 b JOIN keep2 k2 USING (fp) WHERE b.doc_id <> k2.keeper
           |), rem3 AS MATERIALIZED (
           |  SELECT r.doc_id, r.prio, r.text FROM rem1 r
           |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_exc)
           |    AND r.doc_id NOT IN (SELECT doc_id FROM v_exb)
           |), cg0 AS (
           |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
           |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
           |  FROM rem3, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
           |), cp AS (
           |  SELECT doc_id, i, g FROM cg0 WHERE g LIKE '0%'
           |), bg0 AS (
           |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
           |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
           |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
           |  WHERE doc_id % 50 = 7 AND length(text) >= 300
           |), cbp AS (
           |  SELECT doc_id, i, g FROM (
           |    SELECT doc_id, i, g,
           |           row_number() OVER (PARTITION BY g, doc_id ORDER BY i) AS occ
           |    FROM bg0 WHERE g LIKE '0%')
           |  WHERE occ <= 8
           |), crare AS (
           |  SELECT g FROM (
           |    SELECT g, count(DISTINCT doc_id) AS df FROM cp GROUP BY 1)
           |  WHERE df <= 200
           |), ccap AS (
           |  SELECT doc_id, i, g FROM (
           |    SELECT cp.doc_id, cp.i, cp.g,
           |           row_number() OVER (PARTITION BY cp.g, cp.doc_id ORDER BY cp.i) AS occ
           |    FROM cp JOIN crare USING (g))
           |  WHERE occ <= 8
           |), cm AS (
           |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
           |  FROM ccap x JOIN cbp y ON x.g = y.g
           |), cr AS (
           |  SELECT a, b, d, pos,
           |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 64
           |              THEN 1 ELSE 0 END AS brk
           |  FROM cm
           |), cr2 AS (
           |  SELECT a, b, d, pos,
           |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
           |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
           |  FROM cr
           |), v_ct AS MATERIALIZED (
           |  SELECT a AS doc_id, min(b) AS ref FROM (
           |    SELECT a, b FROM cr2 GROUP BY a, b, d, run HAVING count(*) >= 2)
           |  GROUP BY 1
           |), rem4 AS MATERIALIZED (
           |  SELECT r.doc_id, r.prio, r.text FROM rem3 r
           |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_ct)
           |), btri AS MATERIALIZED (
           |  SELECT DISTINCT doc_id,
           |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
           |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM rem4)
           |), bsz AS (SELECT doc_id, count(*) AS sz FROM btri GROUP BY 1),
           |stri AS MATERIALIZED (
           |  SELECT DISTINCT doc_id,
           |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
           |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM seed)
           |), ssz AS (SELECT doc_id, count(*) AS sz FROM stri GROUP BY 1),
           |xinter AS (
           |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
           |  FROM btri x JOIN stri y ON x.shingle = y.shingle GROUP BY 1, 2
           |), v_nx AS MATERIALIZED (
           |  SELECT a AS doc_id, min(b) AS ref
           |  FROM xinter
           |  JOIN bsz na ON na.doc_id = a JOIN ssz nb ON nb.doc_id = b
           |  JOIN rem4 r ON r.doc_id = a
           |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
           |    AND r.prio >= 1.0
           |  GROUP BY 1
           |), rtri AS MATERIALIZED (
           |  SELECT * FROM btri WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
           |), iinter AS (
           |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
           |  FROM rtri x JOIN rtri y
           |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2
           |), ipairs AS (
           |  SELECT a, b
           |  FROM iinter JOIN bsz na ON na.doc_id = a JOIN bsz nb ON nb.doc_id = b
           |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
           |), nodes AS (SELECT a AS id FROM ipairs UNION SELECT b FROM ipairs),
           |edges AS MATERIALIZED (
           |  SELECT a AS u, b AS v FROM ipairs UNION SELECT b, a FROM ipairs),
           |reach(id, l) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
           |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1),
           |nk AS (
           |  SELECT root, id AS keeper FROM (
           |    SELECT c.root, c.id,
           |           row_number() OVER (PARTITION BY c.root ORDER BY r.prio, c.id) AS rn
           |    FROM comp c JOIN rem4 r ON r.doc_id = c.id)
           |  WHERE rn = 1
           |), v_nb AS MATERIALIZED (
           |  SELECT c.id AS doc_id, nk.keeper AS ref
           |  FROM comp c JOIN nk USING (root) WHERE c.id <> nk.keeper
           |), rem5 AS MATERIALIZED (
           |  SELECT r.doc_id, r.prio, r.text FROM rem4 r
           |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_nx)
           |    AND r.doc_id NOT IN (SELECT doc_id FROM v_nb)
           |), wsrc AS MATERIALIZED (
           |  SELECT doc_id, text FROM rem5
           |  UNION ALL
           |  SELECT doc_id, text FROM seed
           |), ${winnowCtesFrom("wsrc", "wn_")},
           |wfp AS MATERIALIZED (
           |  SELECT DISTINCT doc_id AS id, x % $WinnowMod AS h
           |  FROM (SELECT doc_id, unnest(ss) AS x FROM wn_sel)),
           |wbfp AS (SELECT * FROM wfp WHERE id IN (SELECT doc_id FROM rem5)),
           |wifp AS (SELECT * FROM wfp WHERE id NOT IN (SELECT doc_id FROM rem5)),
           |wdfc AS (
           |  SELECT h, coalesce(i.c, 0) + b.c AS df
           |  FROM (SELECT h, count(*) AS c FROM wbfp GROUP BY 1) b
           |  LEFT JOIN (SELECT h, count(*) AS c FROM wifp GROUP BY 1) i USING (h)),
           |wcap AS (SELECT h FROM wdfc WHERE df <= 64),
           |wxinter AS (
           |  SELECT x.id AS a, y.id AS b, count(*) AS c
           |  FROM wbfp x JOIN wifp y ON x.h = y.h
           |  WHERE x.h IN (SELECT h FROM wcap)
           |  GROUP BY 1, 2),
           |wsza AS (SELECT id, count(*) AS sz FROM wbfp GROUP BY 1),
           |wszb AS (SELECT id, count(*) AS sz FROM wifp GROUP BY 1),
           |v_wx AS MATERIALIZED (
           |  SELECT a AS doc_id, min(b) AS ref
           |  FROM wxinter
           |  JOIN wsza na ON na.id = a JOIN wszb nb ON nb.id = b
           |  JOIN rem5 r ON r.doc_id = a
           |  WHERE CAST(c AS DOUBLE) / least(na.sz, nb.sz) >= 0.4
           |    AND r.prio >= 1.0
           |  GROUP BY 1
           |), wrem AS MATERIALIZED (
           |  SELECT * FROM wbfp WHERE id NOT IN (SELECT doc_id FROM v_wx)
           |), wdfs AS (SELECT h, count(*) AS df FROM wrem GROUP BY 1),
           |wcap2 AS (SELECT id, h FROM wrem JOIN wdfs USING (h) WHERE df <= 64),
           |wiinter AS (
           |  SELECT x.id AS a, y.id AS b, count(*) AS c
           |  FROM wcap2 x JOIN wcap2 y ON x.h = y.h AND x.id < y.id
           |  GROUP BY 1, 2),
           |wipairs AS (
           |  SELECT a, b FROM wiinter
           |  JOIN wsza na ON na.id = a JOIN wsza nb ON nb.id = b
           |  WHERE CAST(c AS DOUBLE) / least(na.sz, nb.sz) >= 0.4),
           |wnodes AS (SELECT a AS id FROM wipairs UNION SELECT b FROM wipairs),
           |wedges AS MATERIALIZED (
           |  SELECT a AS u, b AS v FROM wipairs UNION SELECT b, a FROM wipairs),
           |wreach(id, l) AS (
           |  SELECT id, id FROM wnodes
           |  UNION
           |  SELECT e.v, r.l FROM wreach r JOIN wedges e ON e.u = r.id
           |), wcomp AS (SELECT id, min(l) AS root FROM wreach GROUP BY 1),
           |wk AS (
           |  SELECT root, id AS keeper FROM (
           |    SELECT c.root, c.id,
           |           row_number() OVER (PARTITION BY c.root ORDER BY r.prio, c.id) AS rn
           |    FROM wcomp c JOIN rem5 r ON r.doc_id = c.id)
           |  WHERE rn = 1
           |), v_wb AS MATERIALIZED (
           |  SELECT c.id AS doc_id, wk.keeper AS ref
           |  FROM wcomp c JOIN wk USING (root) WHERE c.id <> wk.keeper
           |), rem6 AS MATERIALIZED (
           |  SELECT r.doc_id, r.prio FROM rem5 r
           |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_wx)
           |    AND r.doc_id NOT IN (SELECT doc_id FROM v_wb)
           |), bemb AS MATERIALIZED (
           |  -- survivors' embeddings: base docs carry their own vector,
           |  -- +140000 its source's, +150000/+160000 the vec-0 anchor;
           |  -- every other face planted a ZERO vector (guarded norm 1,
           |  -- all dots 0 — modeled by omission)
           |  SELECT r.doc_id, e.embedding FROM rem6 r
           |  JOIN embeddings e ON e.vec_id = r.doc_id
           |  WHERE r.doc_id % 5 = 0 AND r.doc_id < 10000
           |  UNION ALL
           |  SELECT r.doc_id, e.embedding FROM rem6 r
           |  JOIN embeddings e ON e.vec_id = r.doc_id - 140000
           |  WHERE r.doc_id >= 140000 AND r.doc_id < 150000
           |  UNION ALL
           |  SELECT r.doc_id, e.embedding FROM rem6 r
           |  JOIN embeddings e ON e.vec_id = 0
           |  WHERE r.doc_id >= 150000 AND r.doc_id < 170000
           |), be AS MATERIALIZED (
           |  SELECT doc_id, generate_subscripts(embedding, 1) AS i,
           |         unnest(embedding) AS x
           |  FROM bemb
           |), se AS MATERIALIZED (
           |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           |         unnest(embedding) AS x
           |  FROM embeddings WHERE vec_id % 5 <> 0
           |), sbn AS (
           |  SELECT doc_id, CASE WHEN sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
           |    THEN 1 ELSE sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) END AS n
           |  FROM be GROUP BY 1
           |), ssn AS (
           |  SELECT vec_id, CASE WHEN sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
           |    THEN 1 ELSE sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) END AS n
           |  FROM se GROUP BY 1
           |), xdots AS (
           |  SELECT b.doc_id AS a, s.vec_id AS b2,
           |         sum(CAST(b.x AS DOUBLE) * CAST(s.x AS DOUBLE)) AS dot
           |  FROM be b JOIN se s ON b.i = s.i GROUP BY 1, 2
           |), v_smx AS MATERIALIZED (
           |  SELECT a AS doc_id, min(b2) AS ref
           |  FROM xdots JOIN sbn ON sbn.doc_id = a JOIN ssn ON ssn.vec_id = b2
           |  WHERE dot / sbn.n / ssn.n >= 0.35 GROUP BY 1
           |), srem AS (
           |  SELECT doc_id FROM bemb
           |  WHERE doc_id NOT IN (SELECT doc_id FROM v_smx)
           |), idots AS (
           |  SELECT x.doc_id AS a, y.doc_id AS b2,
           |         sum(CAST(x.x AS DOUBLE) * CAST(y.x AS DOUBLE)) AS dot
           |  FROM be x JOIN be y ON x.i = y.i AND x.doc_id < y.doc_id
           |  WHERE x.doc_id IN (SELECT doc_id FROM srem)
           |    AND y.doc_id IN (SELECT doc_id FROM srem)
           |  GROUP BY 1, 2
           |), v_smb AS MATERIALIZED (
           |  SELECT b2 AS doc_id, min(a) AS ref
           |  FROM idots JOIN sbn na ON na.doc_id = a JOIN sbn nb ON nb.doc_id = b2
           |  WHERE dot / na.n / nb.n >= 0.35 GROUP BY 1
           |), v_kept AS (
           |  SELECT doc_id FROM rem6
           |  WHERE doc_id NOT IN (SELECT doc_id FROM v_smx)
           |    AND doc_id NOT IN (SELECT doc_id FROM v_smb)
           |)
           |SELECT doc_id, 'drop_quality' AS verdict, CAST(NULL AS BIGINT) AS ref_id FROM v_q
           |UNION ALL SELECT doc_id, 'dup_exact', CAST(ref AS BIGINT) FROM v_exc
           |UNION ALL SELECT doc_id, 'dup_exact_batch', CAST(ref AS BIGINT) FROM v_exb
           |UNION ALL SELECT doc_id, 'contaminated', CAST(ref AS BIGINT) FROM v_ct
           |UNION ALL SELECT doc_id, 'dup_index', CAST(ref AS BIGINT) FROM v_nx
           |UNION ALL SELECT doc_id, 'dup_batch', CAST(ref AS BIGINT) FROM v_nb
           |UNION ALL SELECT doc_id, 'dup_winnow', CAST(ref AS BIGINT) FROM v_wx
           |UNION ALL SELECT doc_id, 'dup_winnow_batch', CAST(ref AS BIGINT) FROM v_wb
           |UNION ALL SELECT doc_id, 'dup_semantic', CAST(ref AS BIGINT) FROM v_smx
           |UNION ALL SELECT doc_id, 'dup_semantic_batch', CAST(ref AS BIGINT) FROM v_smb
           |UNION ALL SELECT doc_id, 'kept', CAST(NULL AS BIGINT) FROM v_kept
           |ORDER BY doc_id""".stripMargin
      }
    ),
    QueryDef(
      "d51_soft_dedup_weights",
      // soft dedup: downweight near-dup clusters (weight = 1/|cluster|)
      // instead of dropping them — d09's transitive closure left-joined
      // back onto the corpus, singletons at weight 1. The reciprocal is
      // an exact integer division, so the compare needs no rounding.
      (s, dir) => Curation.softDedupWeights(docs(s, dir), tau = 0.3,
        shingled = Some(shinglesFor(s, dir, 3))).orderBy("doc_id"),
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents
         |), tri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM tok
         |), rare AS (
         |  SELECT shingle FROM tri GROUP BY 1 HAVING count(*) <= 1000
         |), cap AS (
         |  SELECT doc_id, shingle FROM tri JOIN rare USING (shingle)
         |), sz AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM cap x JOIN cap y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |), pairs AS (
         |  SELECT a, b
         |  FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.3
         |), nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (
         |  SELECT id, min(l) AS root FROM reach GROUP BY 1
         |), sized AS (
         |  SELECT id, root, count(*) OVER (PARTITION BY root) AS csz FROM comp
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(s.root, d.doc_id) AS BIGINT) AS root,
         |  CAST(coalesce(s.csz, 1) AS BIGINT) AS cluster_size,
         |  1.0 / coalesce(s.csz, 1) AS weight
         |FROM documents d LEFT JOIN sized s ON s.id = d.doc_id
         |ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d10_curation_neardup",
      // keep-one-per-near-dup-cluster curation: transitive Jaccard
      // clusters (d09's closure), drop non-roots, per-source stats —
      // the end-to-end shape a near-dup sweep takes at corpus scale
      (s, dir) =>
        Dedup.curateNearDups(docs(s, dir), tau = 0.3,
          clusters = Some(clustersFor(s, dir, 0.3))).orderBy("source"),
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents
         |), tri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM tok
         |), rare AS (
         |  SELECT shingle FROM tri GROUP BY 1 HAVING count(*) <= 1000
         |), cap AS (
         |  SELECT doc_id, shingle FROM tri JOIN rare USING (shingle)
         |), sz AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM cap x JOIN cap y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |), pairs AS (
         |  SELECT a, b
         |  FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.3
         |), nodes AS (SELECT a AS id FROM pairs UNION SELECT b FROM pairs),
         |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1),
         |dropped AS (SELECT id FROM comp WHERE id <> root)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)) AS BIGINT)
         |    AS n_tokens
         |FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d04_dedup_simhash",
      // xxhash-dependent → not SQL-expressible; rows-only for the driver,
      // brute-force-validated in ScalaTest.
      (s, dir) => Dedup.simhashPairs(docs(s, dir), maxDist = 3).orderBy("a", "b"),
      None),
    QueryDef(
      "d08_dedup_simhash_portable",
      // SimHash with the cross-engine md5-60bit token hash → the full
      // pipeline (per-bit majority vote, pigeonhole chunk blocking,
      // hamming verify) is DuckDB-reproducible, upgrading SimHash from a
      // rows-only check to an exact oracle gate. d04 keeps the fast
      // xxhash64 variant.
      (s, dir) =>
        Dedup
          .simhashPairs(docs(s, dir), maxDist = 3,
            hasher = Dedup.md5Hash60, bits = 60)
          .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
          .orderBy("a", "b"),
      {
        val bits = 60
        val chunks = 4
        val width = bits / chunks
        val hexVal = hexValSql
        val bitSums = (0 until bits)
          .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
          .mkString(", ")
        val sig = (0 until bits)
          .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
          .mkString(" + ")
        val mask = (1L << width) - 1
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS tok
           |  FROM documents
           |), hashed AS (
           |  SELECT doc_id, CAST($hexVal AS BIGINT) AS h FROM toks
           |), bitsums AS (
           |  SELECT doc_id, $bitSums FROM hashed GROUP BY 1
           |), sigs AS (
           |  SELECT doc_id, CAST($sig AS BIGINT) AS sig FROM bitsums
           |), keyed AS (
           |  SELECT doc_id, sig, c, (sig >> (c * $width)) & $mask AS key
           |  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS c) t
           |)
           |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           |  CAST(bit_count(xor(x.sig, y.sig)) AS INTEGER) AS dist
           |FROM keyed x JOIN keyed y
           |  ON x.c = y.c AND x.key = y.key AND x.doc_id < y.doc_id
           |WHERE bit_count(xor(x.sig, y.sig)) <= 3
           |ORDER BY 1, 2""".stripMargin
      }
    ),
    QueryDef(
      "d11_contamination",
      // benchmark decontamination: training docs (doc_id % 20 != 0)
      // sharing any word 5-gram with the held-out "benchmark" slice
      // (doc_id % 20 == 0). The bench n-gram index is broadcast — the
      // corpus side never shuffles on text.
      (s, dir) => {
        val d = docs(s, dir)
        val sh5 = shinglesFor(s, dir, 5)
        Curation.contamination(
          d.where(col("doc_id") % 20 =!= 0),
          d.where(col("doc_id") % 20 === 0), n = 5,
          trainShingles = Some(sh5.where(col("id") % 20 =!= 0)),
          benchShingles = Some(sh5.where(col("id") % 20 === 0))).orderBy("doc_id")
      },
      s"""WITH tok AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents
         |), sh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
         |             || ' ' || ws[i+4])) AS shingle
         |  FROM tok
         |), bench AS (
         |  SELECT shingle, min(doc_id) AS bmin FROM sh WHERE doc_id % 20 = 0 GROUP BY 1
         |)
         |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS hits,
         |  CAST(min(bmin) AS BIGINT) AS contaminated_by
         |FROM sh s JOIN bench b USING (shingle)
         |WHERE s.doc_id % 20 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d12_sample_cap",
      // deterministic per-source cap: keep ≤10 docs per source by stable
      // md5(doc_id) order — reruns and engine ports pick the same sample
      (s, dir) => Curation.capPerSource(docs(s, dir), k = 10).orderBy("doc_id"),
      """SELECT doc_id, source, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) WHERE rk <= 10 ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d42_temperature_mix",
      // XLM-R/mT5 temperature sampling: per-source quota ∝ n^τ out of a
      // 300-doc target (τ=0.5 flattens toward uniform), filled by the
      // stable md5-hash order. The fixture's sources are uniform, so a
      // Zipfian head is derived (70% of docs fold into one 'head'
      // source, spelled identically on both engines) to keep the τ
      // reweighting AND the least(n, ·) clamp both load-bearing: the
      // head's quota floors well under its n; tail quotas clamp at n.
      // Weights round to 9dp BEFORE the quota floor on both engines,
      // canonicalizing pow/sum float drift.
      (s, dir) => Curation.temperatureSample(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 10 < 7, lit("head"))
            .otherwise(col("source")).as("source")),
        tau = 0.5, target = 300).orderBy("doc_id"),
      s"""${tauMixCtes(300, clamped = true)}
         |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk, quota
         |FROM rk JOIN q USING (source)
         |WHERE rk <= quota ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d76_upsample_quotas",
      // d42 WITHOUT the least(n, ·) clamp: the upsampling face of
      // temperature mixing (epochs over the tail). Same derived Zipfian
      // head, target raised to 1000 so BOTH regimes bind: the head's
      // quota floors under its size (sub-epoch, copies = 0/1 at the
      // boundary) while every tail source's quota exceeds its size
      // (multi-epoch, copies = quota div n + the mod boundary). Copy
      // counts are exact integers; Σ copies == quota per source is the
      // invariant the oracle's values carry.
      (s, dir) => Curation.upsampleQuotas(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 10 < 7, lit("head"))
            .otherwise(col("source")).as("source")),
        tau = 0.5, target = 1000).orderBy("doc_id"),
      s"""$upsampleCtes
         |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk, quota,
         |  CAST(copies AS BIGINT) AS copies
         |FROM c ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d77_upsample_interleave",
      // d44's epoch order composed with d76's copies: one row per COPY,
      // copy j of the doc ranked rk at stream position (j−1)·n + rk —
      // a bijection onto 1..quota per source, so okey = (pos − 0.5) /
      // quota fills (0,1) evenly for upsampled and downsampled sources
      // alike. Same derived Zipfian head and target 1000 as d76, so
      // both regimes bind: head docs carry one epoch (or drop at the
      // boundary), tail docs fan out to multiple rows whose okeys the
      // oracle replays exactly (integer-operand IEEE division).
      (s, dir) => Curation.upsampleInterleaveOrder(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 10 < 7, lit("head"))
            .otherwise(col("source")).as("source")),
        tau = 0.5, target = 1000).orderBy("doc_id", "epoch"),
      s"""$upsampleCtes
         |SELECT source, doc_id, CAST(epoch AS BIGINT) AS epoch, okey
         |FROM u ORDER BY doc_id, epoch""".stripMargin
    ),
    QueryDef(
      "d80_epoch_shards",
      // the export step after d77: shard = floor(okey · 8) — contiguous
      // time slices of the interleaved epoch, so reading shards in
      // order replays the interleave exactly. The manifest oracle pins
      // BOTH guarantees at once: per (shard, source) row counts (every
      // source spreads floor/ceil(quota/8) into every shard —
      // mixture-representative AND size-balanced) and the per-cell
      // okey extrema (slice boundaries land exactly where the floor
      // arithmetic says). Same Zipfian-head fixture as d76/d77.
      (s, dir) => Curation.epochShards(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 10 < 7, lit("head"))
            .otherwise(col("source")).as("source")),
        tau = 0.5, target = 1000, nShards = 8)
        .groupBy("shard", "source")
        .agg(count(lit(1)).as("rows"), min("okey").as("min_okey"),
          max("okey").as("max_okey"))
        .orderBy("shard", "source"),
      s"""$upsampleCtes
         |SELECT CAST(least(floor(okey * 8), 7) AS INTEGER) AS shard,
         |  source, CAST(count(*) AS BIGINT) AS rows,
         |  min(okey) AS min_okey, max(okey) AS max_okey
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d43_corpus_stats",
      // the per-source corpus health report read before/after every
      // curation stage: docs, exact-dup docs (canonical fingerprint),
      // token totals, vocabulary size, type-token ratio, mean doc length
      (s, dir) => Curation.corpusStats(docs(s, dir)).orderBy("source"),
      s"""WITH tok AS (
         |  SELECT source, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
         |  FROM documents
         |), ts AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS tokens,
         |         CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
         |  FROM tok GROUP BY 1
         |), ds AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS docs,
         |         CAST(count(*) - count(DISTINCT $fpSql) AS BIGINT) AS dup_docs
         |  FROM documents GROUP BY 1
         |)
         |SELECT source, docs, dup_docs,
         |  coalesce(tokens, 0) AS tokens,
         |  coalesce(distinct_tokens, 0) AS distinct_tokens,
         |  round(CAST(coalesce(distinct_tokens, 0) AS DOUBLE)
         |    / greatest(CAST(coalesce(tokens, 0) AS DOUBLE), 1.0), 4) AS ttr,
         |  round(CAST(coalesce(tokens, 0) AS DOUBLE) / docs, 4) AS mean_doc_tokens
         |FROM ds LEFT JOIN ts USING (source) ORDER BY source""".stripMargin
    ),
    QueryDef(
      "d70_corpus_stats_approx",
      // d43's 100 TB shape: the vocabulary-sized (source, token)
      // shuffle replaced by approx_count_distinct (built-in HLL++,
      // rsd 1%) — a constant-size sketch that map-side combines, so
      // the whole report is one vocabulary-free pass. Approximate by
      // construction → rows-only here; d43 is the exact oracle twin
      // and ExtSpec pins every per-source approx count within 2% of
      // exact on this fixture (the t32 sketch-vs-exact precedent).
      (s, dir) =>
        Curation.corpusStats(docs(s, dir), approx = true).orderBy("source"),
      None),
    QueryDef(
      "d44_interleave_order",
      // deterministic mixture epoch order: each kept doc's okey is its
      // fractional rank within its source's quota, so a 10%-share
      // source surfaces evenly through the epoch instead of clumping.
      // Same derived Zipfian head as d42; okey = (rk−0.5)/quota is an
      // integer-operand IEEE division, bit-identical on both engines.
      (s, dir) => Curation.interleaveOrder(
        docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 10 < 7, lit("head"))
            .otherwise(col("source")).as("source")),
        tau = 0.5, target = 300).orderBy("doc_id"),
      s"""${tauMixCtes(300, clamped = true)}
         |SELECT source, doc_id,
         |  (CAST(rk AS DOUBLE) - 0.5) / quota AS okey
         |FROM rk JOIN q USING (source)
         |WHERE rk <= quota ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d45_corpus_gauntlet",
      // the composed continuous-construction pipeline, one batch end to
      // end under a full multi-stage oracle: quality gate → exact dedup
      // vs the seed indexes → in-batch exact keeper → near-dup vs the
      // index → in-batch near-dup components → kept; one verdict row
      // per doc. The natural fixture has no exact or in-batch dups, so
      // the batch plants them deterministically (id-offset clones +
      // appended-word near-dups, spelled identically in both engines);
      // quality (7 docs < 100 chars) and cross near-dups (14 pairs at
      // j ≥ 0.5) are naturally live. Survivor segment b0 is overwritten
      // and excluded per replay, so repeat runs are idempotent.
      (s, dir) => {
        val (fpPath, mhPath, vPath) = gauntletPathsFor(s, dir)
        graft.streaming.StreamingCorpusPipeline.processBatch(
          gauntletBatch(docs(s, dir)), 0L, fpPath, mhPath, None, vPath,
          gauntletConfig)
        s.read.parquet(s"$vPath/batch=0")
          .select(col("doc_id"), col("verdict"), col("ref_id"))
          .orderBy("doc_id")
      },
      s"""$gauntletVerdictCtes
         |SELECT doc_id, 'drop_quality' AS verdict, CAST(NULL AS BIGINT) AS ref_id FROM v_q
         |UNION ALL SELECT doc_id, 'dup_exact', CAST(ref AS BIGINT) FROM v_exc
         |UNION ALL SELECT doc_id, 'dup_exact_batch', CAST(ref AS BIGINT) FROM v_exb
         |UNION ALL SELECT doc_id, 'dup_index', CAST(ref AS BIGINT) FROM v_nx
         |UNION ALL SELECT doc_id, 'dup_batch', CAST(ref AS BIGINT) FROM v_nb
         |UNION ALL SELECT doc_id, 'kept', CAST(NULL AS BIGINT) FROM v_kept
         |ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d79_corpus_gauntlet_stats",
      // the gauntlet's SURVIVOR-statistics accumulator live (ngPath):
      // d45's exact fixture and stage chain, plus an NgramIndex seeded
      // over the seed corpus that the pipeline extends with the batch's
      // kept docs — the oracle recounts grams over seed ∪ kept FROM
      // SCRATCH (kept derived by replaying every verdict stage), so a
      // dropped doc leaking into the stats, a double-counted replay
      // segment, or a drift between the verdict chain and the appended
      // survivor set all shift tf and break the hash. fp/mh seeds are
      // shared with d45 (both overwrite + exclude segment b0 — the d68
      // convention); the ngram index and verdict dir are owned here.
      (s, dir) => ngGauntletTopkFor(s, dir),
      s"""$gauntletVerdictCtes, corpus AS (
         |  SELECT doc_id, text FROM seed
         |  UNION ALL
         |  SELECT b.doc_id, b.text FROM batch b JOIN v_kept USING (doc_id)
         |), tok AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM corpus
         |), g AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 1, 0)),
         |      i -> ws[i] || ' ' || ws[i+1])) AS gram
         |  FROM tok
         |)
         |SELECT gram, CAST(count(*) AS BIGINT) AS tf,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |FROM g GROUP BY 1 ORDER BY tf DESC, gram LIMIT 50""".stripMargin
    ),
    QueryDef(
      "d46_corpus_bootstrap",
      // the cold-start twin of d45: bootstrap the gauntlet's indexes
      // from a historical corpus — quality gate → GLOBAL exact keeper
      // (min id per canonical fingerprint) → GLOBAL near-dup components
      // → survivors become the indexes' base segment. Gated on the %3
      // corpus subset (the whole-corpus op is priced honestly — no
      // memo) with planted exact clones and appended-word near-dups;
      // natural j ≥ 0.5 in-corpus pairs are live too.
      (s, dir) => {
        val d = docs(s, dir)
        val sub = d.where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text"))
          .unionByName(d.where(col("doc_id") % 30 === 0)
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
          .unionByName(d.where(col("doc_id") % 30 === 6)
            .select((col("doc_id") + 30000).as("doc_id"),
              concat(col("text"), lit(" xqz")).as("text")))
        val fp = java.nio.file.Files.createTempDirectory("graft-boot-fp").toString
        val mh = java.nio.file.Files.createTempDirectory("graft-boot-mh").toString
        graft.streaming.StreamingCorpusPipeline.bootstrap(sub, fp, mh,
            graft.streaming.StreamingCorpusPipeline.Config(tau = 0.5,
              quality = b => b.select(col("doc_id"),
                when(length(col("text")) >= 100, 1).otherwise(0).as("keep"))))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 30 = 0
         |  UNION ALL
         |  SELECT doc_id + 30000, text || ' xqz' FROM documents
         |  WHERE doc_id % 30 = 6
         |), v_q AS (
         |  SELECT doc_id FROM corpus WHERE length(text) < 100
         |), rem1 AS (
         |  SELECT doc_id, text FROM corpus WHERE length(text) >= 100
         |), bf AS (
         |  SELECT doc_id, $fpSql AS fp FROM rem1
         |), keepf AS (
         |  SELECT fp, min(doc_id) AS keeper FROM bf GROUP BY 1
         |), v_ex AS (
         |  SELECT b.doc_id, k.keeper AS ref
         |  FROM bf b JOIN keepf k USING (fp) WHERE b.doc_id <> k.keeper
         |), rem2 AS (
         |  SELECT r.doc_id, r.text FROM rem1 r
         |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_ex)
         |), tri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM rem2)
         |), sz AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM tri x JOIN tri y
         |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |), ipairs AS (
         |  SELECT a, b
         |  FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
         |), nodes AS (SELECT a AS id FROM ipairs UNION SELECT b FROM ipairs),
         |edges AS (SELECT a AS u, b AS v FROM ipairs UNION SELECT b, a FROM ipairs),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1),
         |v_nb AS (SELECT id AS doc_id, root AS ref FROM comp WHERE id <> root),
         |v_kept AS (
         |  SELECT doc_id FROM rem2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM v_nb)
         |)
         |SELECT doc_id, 'drop_quality' AS verdict, CAST(NULL AS BIGINT) AS ref_id FROM v_q
         |UNION ALL SELECT doc_id, 'dup_exact', CAST(ref AS BIGINT) FROM v_ex
         |UNION ALL SELECT doc_id, 'dup_batch', CAST(ref AS BIGINT) FROM v_nb
         |UNION ALL SELECT doc_id, 'kept', CAST(NULL AS BIGINT) FROM v_kept
         |ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d47_corpus_gauntlet_semantic",
      // the gauntlet with the SemDeDup stage live, under the exact-mode
      // oracle: embedding batch (vec_id%5=0 + identical-vector clones)
      // through the WHOLE pipeline — the text stages are provably inert
      // (unique two-word texts: distinct fingerprints, zero trigrams)
      // so the oracle models the semantic cross-check (vs the seeded
      // nlist=1 index) and the in-batch smaller-id keeper exactly.
      (s, dir) => {
        val (fpP, mhP, semP, vP) = semGauntletPathsFor(s, dir)
        val e = emb(s, dir)
        val batch = e.where(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("doc_id"), col("embedding"))
          .unionByName(e.where(col("vec_id") % 50 === 0)
            .select((col("vec_id") + 10000).as("doc_id"), col("embedding")))
          .withColumn("text", concat(lit("t "), col("doc_id").cast("string")))
        graft.streaming.StreamingCorpusPipeline.processBatch(
          batch, 0L, fpP, mhP, None, vP,
          graft.streaming.StreamingCorpusPipeline.Config(tau = 0.5,
            semTau = 0.35,
            quality = b => b.select(col("doc_id"), lit(1).as("keep"))),
          semPath = Some(semP))
        s.read.parquet(s"$vP/batch=0")
          .select(col("doc_id"), col("verdict"), col("ref_id"))
          .orderBy("doc_id")
      },
      """WITH batch AS (
        |  SELECT vec_id AS doc_id, embedding FROM embeddings WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 50 = 0
        |), be AS (
        |  SELECT doc_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM batch
        |), se AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM embeddings WHERE vec_id % 5 <> 0
        |), bn AS (
        |  SELECT doc_id, CASE WHEN sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |    THEN 1 ELSE sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) END AS n
        |  FROM be GROUP BY 1
        |), sn AS (
        |  SELECT vec_id, CASE WHEN sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |    THEN 1 ELSE sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) END AS n
        |  FROM se GROUP BY 1
        |), xdots AS (
        |  SELECT b.doc_id AS a, s.vec_id AS b2,
        |         sum(CAST(b.x AS DOUBLE) * CAST(s.x AS DOUBLE)) AS dot
        |  FROM be b JOIN se s ON b.i = s.i GROUP BY 1, 2
        |), v_semx AS (
        |  SELECT a AS doc_id, min(b2) AS ref
        |  FROM xdots JOIN bn ON bn.doc_id = a JOIN sn ON sn.vec_id = b2
        |  WHERE dot / bn.n / sn.n >= 0.35 GROUP BY 1
        |), rem AS (
        |  SELECT doc_id FROM batch
        |  WHERE doc_id NOT IN (SELECT doc_id FROM v_semx)
        |), idots AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b2,
        |         sum(CAST(x.x AS DOUBLE) * CAST(y.x AS DOUBLE)) AS dot
        |  FROM be x JOIN be y ON x.i = y.i AND x.doc_id < y.doc_id
        |  WHERE x.doc_id IN (SELECT doc_id FROM rem)
        |    AND y.doc_id IN (SELECT doc_id FROM rem)
        |  GROUP BY 1, 2
        |), v_semb AS (
        |  SELECT b2 AS doc_id, min(a) AS ref
        |  FROM idots JOIN bn na ON na.doc_id = a JOIN bn nb ON nb.doc_id = b2
        |  WHERE dot / na.n / nb.n >= 0.35 GROUP BY 1
        |), v_kept AS (
        |  SELECT doc_id FROM rem
        |  WHERE doc_id NOT IN (SELECT doc_id FROM v_semb)
        |)
        |SELECT doc_id, 'dup_semantic' AS verdict, CAST(ref AS BIGINT) AS ref_id FROM v_semx
        |UNION ALL SELECT doc_id, 'dup_semantic_batch', CAST(ref AS BIGINT) FROM v_semb
        |UNION ALL SELECT doc_id, 'kept', CAST(NULL AS BIGINT) FROM v_kept
        |ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d48_bootstrap_semantic",
      // the semantic cold-start: SemDeDup over the historical corpus
      // with the dropping keeper RECORDED, survivors seeding the
      // SemanticIndex base — exact mode (nlist=1, plain cosine) on the
      // %3 subset (d21's all-pairs bound), so the pairwise rule is
      // fully DuckDB-checkable: y drops iff some x < y has cos ≥ 0.35,
      // ref = the smallest such x.
      (s, dir) => {
        val sm = java.nio.file.Files
          .createTempDirectory("graft-bsem").toString
        graft.streaming.StreamingCorpusPipeline.bootstrapSemantic(
          emb(s, dir).where(col("vec_id") % 3 === 0), sm,
          nlist = 1, tau = 0.35, normalized = false)
          .orderBy("doc_id")
      },
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM embeddings WHERE vec_id % 3 = 0
        |), n AS (
        |  SELECT vec_id, CASE WHEN sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |    THEN 1 ELSE sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) END AS nm
        |  FROM e GROUP BY 1
        |), dots AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b2,
        |         sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2
        |), drops AS (
        |  SELECT b2 AS doc_id, min(a) AS ref
        |  FROM dots JOIN n na ON na.vec_id = a JOIN n nb ON nb.vec_id = b2
        |  WHERE dot / na.nm / nb.nm >= 0.35 GROUP BY 1
        |)
        |SELECT doc_id, 'dup_semantic_batch' AS verdict,
        |       CAST(ref AS BIGINT) AS ref_id
        |FROM drops
        |UNION ALL
        |SELECT vec_id, 'kept', CAST(NULL AS BIGINT)
        |FROM embeddings WHERE vec_id % 3 = 0
        |  AND vec_id NOT IN (SELECT doc_id FROM drops)
        |ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d49_corpus_gauntlet_spans",
      // d45 with the contamination stage LIVE: the gauntlet batch plus
      // planted leak docs (a 200-char prefix of each bench doc + a
      // unique suffix — not exact dups, so they survive the exact
      // stages and convict at the span check before near-dup runs);
      // the oracle models all five active stages, with d29's
      // sampled-gram diagonal-run CTEs for the contamination step.
      // ipairs is AS MATERIALIZED: DuckDB 1.0 otherwise re-inlines the
      // whole CTE chain into every step of the recursive reach closure
      // and runs out of memory on a 10-row pair table (same semantics;
      // the d69 precedent).
      (s, dir) => {
        val (fpPath, mhPath, spPath, vPath) = spanGauntletPathsFor(s, dir)
        val d = docs(s, dir)
        val batch = d.where(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .unionByName(d
            .where(col("doc_id") % 5 =!= 0 && col("doc_id") % 50 === 1)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(d.where(col("doc_id") % 50 === 0)
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
          .unionByName(d.where(col("doc_id") % 50 === 30)
            .select((col("doc_id") + 30000).as("doc_id"),
              concat(col("text"), lit(" xqz")).as("text")))
          .unionByName(d
            .where(col("doc_id") % 50 === 7 && length(col("text")) >= 300)
            .select((col("doc_id") + 40000).as("doc_id"),
              concat(substring(col("text"), 1, 200), lit(" uq"),
                (col("doc_id") + 40000).cast("string")).as("text")))
        graft.streaming.StreamingCorpusPipeline.processBatch(
          batch, 0L, fpPath, mhPath, Some(spPath), vPath,
          graft.streaming.StreamingCorpusPipeline.Config(tau = 0.5,
            minLeak = 2,
            quality = b => b.select(col("doc_id"),
              when(length(col("text")) >= 100, 1).otherwise(0).as("keep"))))
        s.read.parquet(s"$vPath/batch=0")
          .select(col("doc_id"), col("verdict"), col("ref_id"))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE seed AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
         |), batch AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 10000, text FROM documents
         |  WHERE doc_id % 5 <> 0 AND doc_id % 50 = 1
         |  UNION ALL
         |  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL
         |  SELECT doc_id + 30000, text || ' xqz' FROM documents
         |  WHERE doc_id % 50 = 30
         |  UNION ALL
         |  SELECT doc_id + 40000,
         |         substr(text, 1, 200) || ' uq' || (doc_id + 40000)
         |  FROM documents WHERE doc_id % 50 = 7 AND length(text) >= 300
         |), v_q AS (
         |  SELECT doc_id FROM batch WHERE length(text) < 100
         |), rem1 AS (
         |  SELECT doc_id, text FROM batch WHERE length(text) >= 100
         |), bf AS (
         |  SELECT doc_id, $fpSql AS fp FROM rem1
         |), sf AS (
         |  SELECT doc_id, $fpSql AS fp FROM seed
         |), v_exc AS (
         |  SELECT b.doc_id, min(s.doc_id) AS ref
         |  FROM bf b JOIN sf s USING (fp) GROUP BY 1
         |), bf2 AS (
         |  SELECT * FROM bf WHERE doc_id NOT IN (SELECT doc_id FROM v_exc)
         |), keep2 AS (
         |  SELECT fp, min(doc_id) AS keeper FROM bf2 GROUP BY 1
         |), v_exb AS (
         |  SELECT b.doc_id, k.keeper AS ref
         |  FROM bf2 b JOIN keep2 k USING (fp) WHERE b.doc_id <> k.keeper
         |), rem3 AS (
         |  SELECT r.doc_id, r.text FROM rem1 r
         |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_exc)
         |    AND r.doc_id NOT IN (SELECT doc_id FROM v_exb)
         |), cg0 AS (
         |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
         |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
         |  FROM rem3, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
         |), cp AS (
         |  SELECT doc_id, i, g FROM cg0 WHERE g LIKE '0%'
         |), bg0 AS (
         |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
         |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
         |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
         |  WHERE doc_id % 50 = 7 AND length(text) >= 300
         |), cbp AS (
         |  SELECT doc_id, i, g FROM (
         |    SELECT doc_id, i, g,
         |           row_number() OVER (PARTITION BY g, doc_id ORDER BY i) AS occ
         |    FROM bg0 WHERE g LIKE '0%')
         |  WHERE occ <= 8
         |), crare AS (
         |  SELECT g FROM (
         |    SELECT g, count(DISTINCT doc_id) AS df FROM cp GROUP BY 1)
         |  WHERE df <= 200
         |), ccap AS (
         |  SELECT doc_id, i, g FROM (
         |    SELECT cp.doc_id, cp.i, cp.g,
         |           row_number() OVER (PARTITION BY cp.g, cp.doc_id ORDER BY cp.i) AS occ
         |    FROM cp JOIN crare USING (g))
         |  WHERE occ <= 8
         |), cm AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
         |  FROM ccap x JOIN cbp y ON x.g = y.g
         |), cr AS (
         |  SELECT a, b, d, pos,
         |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 64
         |              THEN 1 ELSE 0 END AS brk
         |  FROM cm
         |), cr2 AS (
         |  SELECT a, b, d, pos,
         |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM cr
         |), v_ct AS (
         |  SELECT a AS doc_id, min(b) AS ref FROM (
         |    SELECT a, b FROM cr2 GROUP BY a, b, d, run HAVING count(*) >= 2)
         |  GROUP BY 1
         |), rem4 AS (
         |  SELECT r.doc_id, r.text FROM rem3 r
         |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_ct)
         |), btri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM rem4)
         |), bsz AS (SELECT doc_id, count(*) AS sz FROM btri GROUP BY 1),
         |stri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM seed)
         |), ssz AS (SELECT doc_id, count(*) AS sz FROM stri GROUP BY 1),
         |xinter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM btri x JOIN stri y ON x.shingle = y.shingle GROUP BY 1, 2
         |), v_nx AS (
         |  SELECT a AS doc_id, min(b) AS ref
         |  FROM xinter JOIN bsz na ON na.doc_id = a JOIN ssz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
         |  GROUP BY 1
         |), rtri AS (
         |  SELECT * FROM btri WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
         |), iinter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM rtri x JOIN rtri y
         |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |), ipairs AS MATERIALIZED (
         |  SELECT a, b
         |  FROM iinter JOIN bsz na ON na.doc_id = a JOIN bsz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
         |), nodes AS (SELECT a AS id FROM ipairs UNION SELECT b FROM ipairs),
         |edges AS (SELECT a AS u, b AS v FROM ipairs UNION SELECT b, a FROM ipairs),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1),
         |v_nb AS (SELECT id AS doc_id, root AS ref FROM comp WHERE id <> root),
         |v_kept AS (
         |  SELECT doc_id FROM rem4
         |  WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
         |    AND doc_id NOT IN (SELECT doc_id FROM v_nb)
         |)
         |SELECT doc_id, 'drop_quality' AS verdict, CAST(NULL AS BIGINT) AS ref_id FROM v_q
         |UNION ALL SELECT doc_id, 'dup_exact', CAST(ref AS BIGINT) FROM v_exc
         |UNION ALL SELECT doc_id, 'dup_exact_batch', CAST(ref AS BIGINT) FROM v_exb
         |UNION ALL SELECT doc_id, 'contaminated', CAST(ref AS BIGINT) FROM v_ct
         |UNION ALL SELECT doc_id, 'dup_index', CAST(ref AS BIGINT) FROM v_nx
         |UNION ALL SELECT doc_id, 'dup_batch', CAST(ref AS BIGINT) FROM v_nb
         |UNION ALL SELECT doc_id, 'kept', CAST(NULL AS BIGINT) FROM v_kept
         |ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d68_corpus_gauntlet_nfc",
      // the gauntlet with Unicode NFC normalization live as stage 0:
      // d45's batch plus a planted decomposed/precomposed pair per
      // %50==20 doc (same base text + ' cafe'+U+0301 at +40000 vs
      // ' caf'+U+00E9 at +50000). After NFC the pair is byte-identical,
      // so +50000 convicts dup_exact_batch(+40000) — WITHOUT the stage
      // the fingerprints differ (the combining mark strips to a space
      // but the base 'e' survives: 'cafe' vs 'caf') and the pair would
      // fall through to the near-dup stage instead, so the verdict
      // CLASS proves normalization ran. The oracle replays every stage
      // over nfc_normalize'd text.
      (s, dir) => {
        val (fpPath, mhPath, _) = gauntletPathsFor(s, dir)
        val vPath = nfcVPathFor(s, dir)
        val d = docs(s, dir)
        val batch = d.where(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .unionByName(d
            .where(col("doc_id") % 5 =!= 0 && col("doc_id") % 50 === 1)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(d.where(col("doc_id") % 50 === 0)
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
          .unionByName(d.where(col("doc_id") % 50 === 30)
            .select((col("doc_id") + 30000).as("doc_id"),
              concat(col("text"), lit(" xqz")).as("text")))
          .unionByName(d.where(col("doc_id") % 50 === 20)
            .select((col("doc_id") + 40000).as("doc_id"),
              concat(col("text"), lit(" cafe\u0301")).as("text")))
          .unionByName(d.where(col("doc_id") % 50 === 20)
            .select((col("doc_id") + 50000).as("doc_id"),
              concat(col("text"), lit(" caf\u00e9")).as("text")))
        graft.streaming.StreamingCorpusPipeline.processBatch(
          batch, 0L, fpPath, mhPath, None, vPath,
          graft.streaming.StreamingCorpusPipeline.Config(tau = 0.5,
            normalizeForm = Some("NFC"),
            quality = b => b.select(col("doc_id"),
              when(length(col("text")) >= 100, 1).otherwise(0).as("keep"))))
        s.read.parquet(s"$vPath/batch=0")
          .select(col("doc_id"), col("verdict"), col("ref_id"))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE seed AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
         |), raw AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 10000, text FROM documents
         |  WHERE doc_id % 5 <> 0 AND doc_id % 50 = 1
         |  UNION ALL
         |  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL
         |  SELECT doc_id + 30000, text || ' xqz' FROM documents
         |  WHERE doc_id % 50 = 30
         |  UNION ALL
         |  SELECT doc_id + 40000, text || ' cafe' || chr(769) FROM documents
         |  WHERE doc_id % 50 = 20
         |  UNION ALL
         |  SELECT doc_id + 50000, text || ' caf' || chr(233) FROM documents
         |  WHERE doc_id % 50 = 20
         |), batch AS (
         |  SELECT doc_id, nfc_normalize(text) AS text FROM raw
         |), v_q AS (
         |  SELECT doc_id FROM batch WHERE length(text) < 100
         |), rem1 AS (
         |  SELECT doc_id, text FROM batch WHERE length(text) >= 100
         |), bf AS (
         |  SELECT doc_id, $fpSql AS fp FROM rem1
         |), sf AS (
         |  SELECT doc_id, $fpSql AS fp FROM seed
         |), v_exc AS (
         |  SELECT b.doc_id, min(s.doc_id) AS ref
         |  FROM bf b JOIN sf s USING (fp) GROUP BY 1
         |), bf2 AS (
         |  SELECT * FROM bf WHERE doc_id NOT IN (SELECT doc_id FROM v_exc)
         |), keep2 AS (
         |  SELECT fp, min(doc_id) AS keeper FROM bf2 GROUP BY 1
         |), v_exb AS (
         |  SELECT b.doc_id, k.keeper AS ref
         |  FROM bf2 b JOIN keep2 k USING (fp) WHERE b.doc_id <> k.keeper
         |), rem3 AS (
         |  SELECT r.doc_id, r.text FROM rem1 r
         |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_exc)
         |    AND r.doc_id NOT IN (SELECT doc_id FROM v_exb)
         |), btri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM rem3)
         |), bsz AS (SELECT doc_id, count(*) AS sz FROM btri GROUP BY 1),
         |stri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM seed)
         |), ssz AS (SELECT doc_id, count(*) AS sz FROM stri GROUP BY 1),
         |xinter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM btri x JOIN stri y ON x.shingle = y.shingle GROUP BY 1, 2
         |), v_nx AS (
         |  SELECT a AS doc_id, min(b) AS ref
         |  FROM xinter JOIN bsz na ON na.doc_id = a JOIN ssz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
         |  GROUP BY 1
         |), rtri AS (
         |  SELECT * FROM btri WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
         |), iinter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM rtri x JOIN rtri y
         |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |), ipairs AS (
         |  SELECT a, b
         |  FROM iinter JOIN bsz na ON na.doc_id = a JOIN bsz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
         |), nodes AS (SELECT a AS id FROM ipairs UNION SELECT b FROM ipairs),
         |edges AS (SELECT a AS u, b AS v FROM ipairs UNION SELECT b, a FROM ipairs),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1),
         |v_nb AS (SELECT id AS doc_id, root AS ref FROM comp WHERE id <> root),
         |v_kept AS (
         |  SELECT doc_id FROM rem3
         |  WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
         |    AND doc_id NOT IN (SELECT doc_id FROM v_nb)
         |)
         |SELECT doc_id, 'drop_quality' AS verdict, CAST(NULL AS BIGINT) AS ref_id FROM v_q
         |UNION ALL SELECT doc_id, 'dup_exact', CAST(ref AS BIGINT) FROM v_exc
         |UNION ALL SELECT doc_id, 'dup_exact_batch', CAST(ref AS BIGINT) FROM v_exb
         |UNION ALL SELECT doc_id, 'dup_index', CAST(ref AS BIGINT) FROM v_nx
         |UNION ALL SELECT doc_id, 'dup_batch', CAST(ref AS BIGINT) FROM v_nb
         |UNION ALL SELECT doc_id, 'kept', CAST(NULL AS BIGINT) FROM v_kept
         |ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d69_corpus_gauntlet_trained",
      // the FineWeb-Edu composition, oracled end to end: t28's
      // bit-exact one-step classifier (the session-memoized
      // classifierFor model — training itself is t28's full-GD oracle)
      // plugged in as the gauntlet's QUALITY stage, gating on the
      // 4dp-rounded logit z ≥ 0.00055 (a threshold strictly between
      // two 4dp grid points, so no document can sit on the boundary;
      // 11 base batch docs score below it — the gate provably binds).
      // Classifier-passed clones still hit the exact/near-dup stages,
      // so the verdict CLASS distribution proves both the trained gate
      // and the stage ordering ran. Previously the classifier-as-gate
      // Config existed in spec only (StreamingPipelineSpec); this is
      // its DuckDB gate — the oracle retrains the model in SQL and
      // replays every gauntlet stage over the model-gated remainder.
      (s, dir) => {
        val (fpPath, mhPath, _) = gauntletPathsFor(s, dir)
        val vPath = trainedVPathFor(s, dir)
        val m = classifierFor(s, dir)
        val d = docs(s, dir)
        val batch = d.where(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .unionByName(d
            .where(col("doc_id") % 5 =!= 0 && col("doc_id") % 50 === 1)
            .select((col("doc_id") + 10000).as("doc_id"), col("text")))
          .unionByName(d.where(col("doc_id") % 50 === 0)
            .select((col("doc_id") + 20000).as("doc_id"), col("text")))
          .unionByName(d.where(col("doc_id") % 50 === 30)
            .select((col("doc_id") + 30000).as("doc_id"),
              concat(col("text"), lit(" xqz")).as("text")))
        graft.streaming.StreamingCorpusPipeline.processBatch(
          batch, 0L, fpPath, mhPath, None, vPath,
          graft.streaming.StreamingCorpusPipeline.Config(tau = 0.5,
            quality = b => TextAnalysis.linearLogits(b, m.weights, m.bias,
                hasher = Dedup.md5Hash60, ordered = true)
              .select(col("doc_id"),
                when(roundSigned(col("z")) >= 0.00055, 1).otherwise(0)
                  .as("keep"))))
        s.read.parquet(s"$vPath/batch=0")
          .select(col("doc_id"), col("verdict"), col("ref_id"))
          .orderBy("doc_id")
      }, {
        val hexVal = hexValSql
        s"""WITH RECURSIVE seed AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
           |), batch AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
           |  UNION ALL
           |  SELECT doc_id + 10000, text FROM documents
           |  WHERE doc_id % 5 <> 0 AND doc_id % 50 = 1
           |  UNION ALL
           |  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 50 = 0
           |  UNION ALL
           |  SELECT doc_id + 30000, text || ' xqz' FROM documents
           |  WHERE doc_id % 50 = 30
           |), ${trainCtesSql(materializeX = true)}, btok AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text, '${TextAnalysis.TokenRe}')) AS tok
           |  FROM batch
           |), bh AS (
           |  SELECT doc_id, CAST(($hexVal) % 64 AS BIGINT) AS bucket FROM btok
           |), bcnt AS (
           |  SELECT doc_id, bucket, count(*) AS cnt FROM bh GROUP BY 1, 2
           |), bn AS (
           |  SELECT doc_id, sqrt(sum(CAST(cnt * cnt AS DOUBLE))) AS nrm
           |  FROM bcnt GROUP BY 1
           |), bxx AS (
           |  SELECT c.doc_id, bucket, CAST(cnt AS DOUBLE) / nrm AS w
           |  FROM bcnt c JOIN bn ON bn.doc_id = c.doc_id
           |), bzz AS (
           |  SELECT bxx.doc_id,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list(bxx.w * w1.wt ORDER BY bucket)), (a, b) -> a + b) AS z
           |  FROM bxx JOIN w1 USING (bucket) GROUP BY 1
           |), scored AS MATERIALIZED (
           |  SELECT b.doc_id, b.text,
           |         round(coalesce(bzz.z, 0.0) + b1.bias, 4) + 0.0 AS z
           |  FROM batch b LEFT JOIN bzz USING (doc_id) CROSS JOIN b1
           |), v_q AS (
           |  SELECT doc_id FROM scored WHERE z < 0.00055
           |), rem1 AS MATERIALIZED (
           |  SELECT doc_id, text FROM scored WHERE z >= 0.00055
           |), bf AS MATERIALIZED (
           |  SELECT doc_id, $fpSql AS fp FROM rem1
           |), sf AS (
           |  SELECT doc_id, $fpSql AS fp FROM seed
           |), v_exc AS MATERIALIZED (
           |  SELECT b.doc_id, min(s.doc_id) AS ref
           |  FROM bf b JOIN sf s USING (fp) GROUP BY 1
           |), bf2 AS MATERIALIZED (
           |  SELECT * FROM bf WHERE doc_id NOT IN (SELECT doc_id FROM v_exc)
           |), keep2 AS (
           |  SELECT fp, min(doc_id) AS keeper FROM bf2 GROUP BY 1
           |), v_exb AS MATERIALIZED (
           |  SELECT b.doc_id, k.keeper AS ref
           |  FROM bf2 b JOIN keep2 k USING (fp) WHERE b.doc_id <> k.keeper
           |), rem3 AS MATERIALIZED (
           |  SELECT r.doc_id, r.text FROM rem1 r
           |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_exc)
           |    AND r.doc_id NOT IN (SELECT doc_id FROM v_exb)
           |), btri AS MATERIALIZED (
           |  SELECT DISTINCT doc_id,
           |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
           |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM rem3)
           |), bsz AS (SELECT doc_id, count(*) AS sz FROM btri GROUP BY 1),
           |stri AS MATERIALIZED (
           |  SELECT DISTINCT doc_id,
           |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
           |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
           |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM seed)
           |), ssz AS (SELECT doc_id, count(*) AS sz FROM stri GROUP BY 1),
           |xinter AS (
           |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
           |  FROM btri x JOIN stri y ON x.shingle = y.shingle GROUP BY 1, 2
           |), v_nx AS MATERIALIZED (
           |  SELECT a AS doc_id, min(b) AS ref
           |  FROM xinter JOIN bsz na ON na.doc_id = a JOIN ssz nb ON nb.doc_id = b
           |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
           |  GROUP BY 1
           |), rtri AS MATERIALIZED (
           |  SELECT * FROM btri WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
           |), iinter AS (
           |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
           |  FROM rtri x JOIN rtri y
           |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2
           |), ipairs AS MATERIALIZED (
           |  SELECT a, b
           |  FROM iinter JOIN bsz na ON na.doc_id = a JOIN bsz nb ON nb.doc_id = b
           |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
           |), nodes AS (SELECT a AS id FROM ipairs UNION SELECT b FROM ipairs),
           |edges AS (SELECT a AS u, b AS v FROM ipairs UNION SELECT b, a FROM ipairs),
           |reach(id, l) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
           |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1),
           |v_nb AS (SELECT id AS doc_id, root AS ref FROM comp WHERE id <> root),
           |v_kept AS (
           |  SELECT doc_id FROM rem3
           |  WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
           |    AND doc_id NOT IN (SELECT doc_id FROM v_nb)
           |)
           |SELECT doc_id, 'drop_quality' AS verdict, CAST(NULL AS BIGINT) AS ref_id FROM v_q
           |UNION ALL SELECT doc_id, 'dup_exact', CAST(ref AS BIGINT) FROM v_exc
           |UNION ALL SELECT doc_id, 'dup_exact_batch', CAST(ref AS BIGINT) FROM v_exb
           |UNION ALL SELECT doc_id, 'dup_index', CAST(ref AS BIGINT) FROM v_nx
           |UNION ALL SELECT doc_id, 'dup_batch', CAST(ref AS BIGINT) FROM v_nb
           |UNION ALL SELECT doc_id, 'kept', CAST(NULL AS BIGINT) FROM v_kept
           |ORDER BY doc_id""".stripMargin
      }
    ),
    QueryDef(
      "d62_corpus_gauntlet_lines",
      // the gauntlet with C4-style LINE CLEANING live between quality
      // and exact dedup (the RefinedWeb ordering): every batch doc
      // carries a planted boilerplate banner line that, uncleaned,
      // perturbs both the fingerprint and the shingle set. The banner
      // lives in the seeded LineIndex, so cleaning restores the fixture
      // text verbatim — and the clone classes (+10000/+20000: seed
      // texts behind banner1/banner2) convict as dup_exact against the
      // fingerprint index ONLY when the line stage actually ran. The
      // quality gate reads the RAW (bannered) text — stage order is
      // load-bearing. In-batch line keeping is gated by d32/d59;
      // survivors extend the line index as segment b0 (excluded on
      // replay, so re-runs are idempotent).
      (s, dir) => {
        val (fpPath, mhPath, lnPath, vPath) = lineGauntletPathsFor(s, dir)
        val d = docs(s, dir)
        val batch = d.where(col("doc_id") % 5 === 0)
          .select(col("doc_id"),
            concat(lit(LnBanner1 + "\n"), col("text")).as("text"))
          .unionByName(d.where(col("doc_id") % 50 === 21)
            .select((col("doc_id") + 10000).as("doc_id"),
              concat(lit(LnBanner1 + "\n"), col("text")).as("text")))
          .unionByName(d.where(col("doc_id") % 50 === 1)
            .select((col("doc_id") + 20000).as("doc_id"),
              concat(lit(LnBanner2 + "\n"), col("text")).as("text")))
        graft.streaming.StreamingCorpusPipeline.processBatch(
          batch, 0L, fpPath, mhPath, None, vPath,
          graft.streaming.StreamingCorpusPipeline.Config(tau = 0.5,
            quality = b => b.select(col("doc_id"),
              when(length(col("text")) >= 160, 1).otherwise(0).as("keep"))),
          lnPath = Some(lnPath))
        s.read.parquet(s"$vPath/batch=0")
          .select(col("doc_id"), col("verdict"), col("ref_id"))
          .orderBy("doc_id")
      },
      s"""WITH RECURSIVE seed AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
         |), batch AS (
         |  SELECT doc_id,
         |         '$LnBanner1' || chr(10) || text AS raw, text AS clean
         |  FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 10000, '$LnBanner1' || chr(10) || text, text
         |  FROM documents WHERE doc_id % 50 = 21
         |  UNION ALL
         |  SELECT doc_id + 20000, '$LnBanner2' || chr(10) || text, text
         |  FROM documents WHERE doc_id % 50 = 1
         |), v_q AS (
         |  SELECT doc_id FROM batch WHERE length(raw) < 160
         |), rem1 AS (
         |  SELECT doc_id, clean AS text FROM batch WHERE length(raw) >= 160
         |), bf AS (
         |  SELECT doc_id, $fpSql AS fp FROM rem1
         |), sf AS (
         |  SELECT doc_id, $fpSql AS fp FROM seed
         |), v_exc AS (
         |  SELECT b.doc_id, min(s.doc_id) AS ref
         |  FROM bf b JOIN sf s USING (fp) GROUP BY 1
         |), bf2 AS (
         |  SELECT * FROM bf WHERE doc_id NOT IN (SELECT doc_id FROM v_exc)
         |), keep2 AS (
         |  SELECT fp, min(doc_id) AS keeper FROM bf2 GROUP BY 1
         |), v_exb AS (
         |  SELECT b.doc_id, k.keeper AS ref
         |  FROM bf2 b JOIN keep2 k USING (fp) WHERE b.doc_id <> k.keeper
         |), rem3 AS (
         |  SELECT r.doc_id, r.text FROM rem1 r
         |  WHERE r.doc_id NOT IN (SELECT doc_id FROM v_exc)
         |    AND r.doc_id NOT IN (SELECT doc_id FROM v_exb)
         |), btri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM rem3)
         |), bsz AS (SELECT doc_id, count(*) AS sz FROM btri GROUP BY 1),
         |stri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM seed)
         |), ssz AS (SELECT doc_id, count(*) AS sz FROM stri GROUP BY 1),
         |xinter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM btri x JOIN stri y ON x.shingle = y.shingle GROUP BY 1, 2
         |), v_nx AS (
         |  SELECT a AS doc_id, min(b) AS ref
         |  FROM xinter JOIN bsz na ON na.doc_id = a JOIN ssz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
         |  GROUP BY 1
         |), rtri AS (
         |  SELECT * FROM btri WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
         |), iinter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM rtri x JOIN rtri y
         |    ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |), ipairs AS (
         |  SELECT a, b
         |  FROM iinter JOIN bsz na ON na.doc_id = a JOIN bsz nb ON nb.doc_id = b
         |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
         |), nodes AS (SELECT a AS id FROM ipairs UNION SELECT b FROM ipairs),
         |edges AS (SELECT a AS u, b AS v FROM ipairs UNION SELECT b, a FROM ipairs),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.id
         |), comp AS (SELECT id, min(l) AS root FROM reach GROUP BY 1),
         |v_nb AS (SELECT id AS doc_id, root AS ref FROM comp WHERE id <> root),
         |v_kept AS (
         |  SELECT doc_id FROM rem3
         |  WHERE doc_id NOT IN (SELECT doc_id FROM v_nx)
         |    AND doc_id NOT IN (SELECT doc_id FROM v_nb)
         |)
         |SELECT doc_id, 'drop_quality' AS verdict, CAST(NULL AS BIGINT) AS ref_id FROM v_q
         |UNION ALL SELECT doc_id, 'dup_exact', CAST(ref AS BIGINT) FROM v_exc
         |UNION ALL SELECT doc_id, 'dup_exact_batch', CAST(ref AS BIGINT) FROM v_exb
         |UNION ALL SELECT doc_id, 'dup_index', CAST(ref AS BIGINT) FROM v_nx
         |UNION ALL SELECT doc_id, 'dup_batch', CAST(ref AS BIGINT) FROM v_nb
         |UNION ALL SELECT doc_id, 'kept', CAST(NULL AS BIGINT) FROM v_kept
         |ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d13_pack_chunks",
      // sequence packing: concat each source's docs (stable doc_id order)
      // and cut into 512-token training chunks; docs may straddle chunks
      (s, dir) => Curation.packChunks(docs(s, dir), budget = 512)
        .orderBy("source", "chunk_id", "doc_id"),
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS toks
        |  FROM documents
        |), c AS (
        |  SELECT source, doc_id, toks,
        |    CAST(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t
        |), e AS (
        |  SELECT source, doc_id, toks, cum, cum - toks AS strt,
        |    unnest(generate_series((cum - toks) // 512, (cum - 1) // 512)) AS chunk
        |  FROM c WHERE toks > 0
        |)
        |SELECT source, CAST(chunk AS BIGINT) AS chunk_id, doc_id,
        |  CAST(greatest(chunk * 512 - strt, 0) AS BIGINT) AS tok_from,
        |  CAST(least((chunk + 1) * 512 - strt, toks) AS BIGINT) AS tok_to
        |FROM e ORDER BY source, chunk_id, doc_id""".stripMargin
    ),
    QueryDef(
      "d05_dedup_embedding",
      (s, dir) => {
        val c = Similarity.corpus(emb(s, dir)).where(col("id") % 5 === 0)
        c.as("x")
          .join(c.as("y"), col("x.id") < col("y.id"))
          .select(col("x.id").as("a"), col("y.id").as("b"),
            Similarity.cosine(col("x.vec"), col("y.vec")).as("cos"))
          .where(col("cos") >= 0.35)
          .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
          .orderBy("a", "b")
      },
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM embeddings WHERE vec_id % 5 = 0
        |), dots AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |         sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2
        |), nrm AS (
        |  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n
        |  FROM e GROUP BY 1)
        |SELECT a, b, round(dot / na.n / nb.n, 4) AS cos
        |FROM dots JOIN nrm na ON na.vec_id = a JOIN nrm nb ON nb.vec_id = b
        |WHERE dot / na.n / nb.n >= 0.35 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d06_dedup_embedding_lsh",
      // hyperplane-bucketed variant (the 100 TB path) — approximate
      // blocking, so rows-only for the driver; recall vs d05 measured in
      // ScalaTest, plumbing value-gated by d14's exact mode. Multi-probe
      // at 4 tables: RecallSweep@sf0.01 measured recall 0.96 vs 0.71 for
      // plain 8 tables — better recall from HALF the index rows (the
      // binding cost at scale). The (normalized, bucketed) index is the
      // memoized build-once artifact, like IVF/PQ.
      (s, dir) =>
        Dedup
          .embeddingNearDups(emb(s, dir), tau = 0.35, planes = 4,
            tables = 4, multiProbe = true,
            index = Some(lshIndexFor(s, dir, 4, 4)))
          .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
          .orderBy("a", "b"),
      None),
    QueryDef(
      "d14_dedup_embedding_exact",
      // d06's exact-mode gate (s07–s10 precedent): planes=0, tables=1
      // degenerates every vector into ONE bucket, so LSH blocking is
      // structurally complete and the SAME pipeline (normalize → bucket →
      // candidate join → dot-product verify) equals brute-force cosine
      // pairs — DuckDB-checkable value-exactly. Subset (id % 5 = 0)
      // mirrors d05 to keep the oracle's all-pairs join bounded.
      // Correctness-only: excluded from Bench (d06 is the perf shape).
      (s, dir) =>
        Dedup
          .embeddingNearDups(emb(s, dir).where(col("vec_id") % 5 === 0),
            tau = 0.35, planes = 0, tables = 1)
          .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
          .orderBy("a", "b"),
      // the oracle mirrors the pipeline's normalize-first arithmetic
      // (x_i/||x|| then dot, same order) — d05 keeps plain-cosine order
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM embeddings WHERE vec_id % 5 = 0
        |), nrm AS (
        |  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n
        |  FROM e GROUP BY 1
        |), ne AS (
        |  SELECT e.vec_id, e.i, CAST(e.x AS DOUBLE) / nrm.n AS x
        |  FROM e JOIN nrm ON nrm.vec_id = e.vec_id
        |), dots AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b, sum(a.x * b.x) AS dot
        |  FROM ne a JOIN ne b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2
        |)
        |SELECT a, b, round(dot, 4) AS cos FROM dots
        |WHERE dot >= 0.35 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d86_dedup_lsh_pinned",
      // d06's BUCKETING ARITHMETIC value-gated (r13 verdict #5, the d72b
      // pinned-thresholds move): d14 proves the planes=0 degeneracy, but
      // never exercises a real bucket key. Here the hyperplanes are
      // PINNED to axis-aligned basis vectors (plane t·4+i = e_{t·4+i}),
      // so each table's 4-bit sign-LSH key is exactly the sign pattern
      // of four raw embedding components — normalization is
      // sign-invariant — and the WHOLE scale path (per-table key
      // assembly, disjoint table bucket spaces, multi-probe Hamming-1
      // bit flips, one-sided probe expansion, cross-table candidate
      // dedup, normalized-dot verify) re-derives in DuckDB bit-for-bit.
      // d06 keeps the production Gaussian planes; only the plane TABLE
      // differs between them, through bucketCorpus' injection hook.
      // Correctness-only: excluded from Bench (d06 is the perf shape).
      (s, dir) => {
        val pinned = (0 until 16).map(j =>
          Array.tabulate(64)(d => if (d == j) 1.0 else 0.0))
        Dedup
          .embeddingNearDups(emb(s, dir), tau = 0.35, planes = 4,
            tables = 4, multiProbe = true, planesOverride = Some(pinned))
          .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
          .orderBy("a", "b")
      },
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM embeddings
        |), nrm AS (
        |  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n
        |  FROM e GROUP BY 1
        |), tbl AS (SELECT unnest([0, 1, 2, 3]) AS t),
        |sig AS (
        |  SELECT v.vec_id, CAST(
        |      (CASE WHEN v.embedding[tbl.t*4 + 1] > 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v.embedding[tbl.t*4 + 2] > 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN v.embedding[tbl.t*4 + 3] > 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN v.embedding[tbl.t*4 + 4] > 0 THEN 8 ELSE 0 END)
        |    + tbl.t * 16 AS BIGINT) AS bucket
        |  FROM embeddings v, tbl
        |), probe AS (
        |  SELECT vec_id, unnest([bucket,
        |    xor(bucket, CAST(1 AS BIGINT)), xor(bucket, CAST(2 AS BIGINT)),
        |    xor(bucket, CAST(4 AS BIGINT)), xor(bucket, CAST(8 AS BIGINT))]) AS bucket
        |  FROM sig
        |), cand AS (
        |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |  FROM sig x JOIN probe y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        |), ne AS (
        |  SELECT e.vec_id, e.i, CAST(e.x AS DOUBLE) / nrm.n AS x
        |  FROM e JOIN nrm ON nrm.vec_id = e.vec_id
        |), dots AS (
        |  SELECT c.a, c.b, sum(xa.x * xb.x) AS dot
        |  FROM cand c
        |  JOIN ne xa ON xa.vec_id = c.a
        |  JOIN ne xb ON xb.vec_id = c.b AND xb.i = xa.i
        |  GROUP BY 1, 2
        |)
        |SELECT a, b, round(dot, 4) AS cos FROM dots
        |WHERE dot >= 0.35 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d15_shuffle_deterministic",
      // global training order as a portable content-hash sort key: same
      // seed → same shuffle on any engine, no RNG state; consumers sort
      // by okey (a range-partitioned global sort, not a row_number)
      (s, dir) => Curation.shuffleOrder(docs(s, dir), seed = 42L),
      """SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS okey
        |FROM documents ORDER BY 2""".stripMargin
    ),
    QueryDef(
      "d16_sample_stratified",
      // per-language target fractions via the md5 unit interval: keep a
      // doc iff its hash prefix sorts below the stratum threshold —
      // stable under corpus growth, reproducible across engines
      (s, dir) => Curation.stratifiedSample(docs(s, dir),
        Map("en" -> 0.5, "es" -> 0.25, "de" -> 1.0, "fr" -> 0.1))
        .orderBy("doc_id"),
      """SELECT doc_id, lang FROM documents
        |JOIN (VALUES ('en', '80000000'), ('es', '40000000'),
        |             ('de', 'g'), ('fr', '1999999a')) f(lang, th)
        |USING (lang)
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < th
        |ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d17_quality_attrition",
      // the per-stage attrition report a pipeline owner reads when a
      // corpus shrinks: docs entering/surviving each filter, stages
      // applied in order (min length → known language → quality ≥ 0.5 →
      // stopword ratio ≥ 0.05), one scan
      (s, dir) => Curation.qualityAttrition(docs(s, dir), Seq(
        "min_chars" -> (col("n_chars") >= 100),
        "lang_known" -> (graft.ext.TextAnalysis.langId(col("text")) =!= "und"),
        "quality" -> (graft.ext.TextAnalysis.qualityScore(col("text")) >= 0.5),
        "stopwords" -> (graft.ext.TextAnalysis.stopwordRatio(col("text")) >= 0.05)))
        .orderBy("stage_idx"),
      s"""WITH q AS (
         |  SELECT n_chars,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |      / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
         |    CAST(len(regexp_extract_all(lower(text),
         |        '\\b(${graft.ext.TextAnalysis.StopEn.mkString("|")})\\b')) AS INTEGER) AS s_en,
         |    CAST(len(regexp_extract_all(lower(text),
         |        '\\b(${graft.ext.TextAnalysis.StopEs.mkString("|")})\\b')) AS INTEGER) AS s_es,
         |    CAST(len(regexp_extract_all(lower(text),
         |        '\\b(${graft.ext.TextAnalysis.StopDe.mkString("|")})\\b')) AS INTEGER) AS s_de,
         |    CAST(len(regexp_extract_all(lower(text),
         |        '\\b(${graft.ext.TextAnalysis.StopFr.mkString("|")})\\b')) AS INTEGER) AS s_fr,
         |    CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS INTEGER) * 3 AS s_zh,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE) AS n_words,
         |    CAST(length(text) AS DOUBLE) AS chars_d
         |  FROM documents
         |), d AS (
         |  -- IS NOT TRUE: a NULL predicate FAILS its stage (matches the
         |  -- Spark side's coalesce(pred, false))
         |  SELECT CASE WHEN p1 IS NOT TRUE THEN 0 WHEN p2 IS NOT TRUE THEN 1
         |              WHEN p3 IS NOT TRUE THEN 2 WHEN p4 IS NOT TRUE THEN 3
         |              ELSE 4 END AS d
         |  FROM (
         |    SELECT n_chars >= 100 AS p1,
         |      greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 AS p2,
         |      (least(chars_d / 200.0, 1.0)
         |        + least((s_en / greatest(n_words, 1.0)) * 4.0, 1.0)
         |        + (1.0 - least(punct_ratio * 5.0, 1.0))) / 3.0 >= 0.5 AS p3,
         |      s_en / greatest(n_words, 1.0) >= 0.05 AS p4
         |    FROM q)
         |), a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS c0,
         |    CAST(sum(CASE WHEN d >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(sum(CASE WHEN d >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         |    CAST(sum(CASE WHEN d >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
         |  FROM d)
         |SELECT * FROM (
         |  SELECT 'min_chars' AS stage, 1 AS stage_idx, c0 AS docs_in,
         |         c1 AS docs_kept, c0 - c1 AS docs_dropped FROM a
         |  UNION ALL SELECT 'lang_known', 2, c1, c2, c1 - c2 FROM a
         |  UNION ALL SELECT 'quality', 3, c2, c3, c2 - c3 FROM a
         |  UNION ALL SELECT 'stopwords', 4, c3, c4, c3 - c4 FROM a
         |) ORDER BY stage_idx""".stripMargin
    ),
    QueryDef(
      "d18_token_budget",
      // fill each source's mixture bucket with its best documents
      // (quality desc, doc_id tie-break) until 4096 cumulative tokens —
      // per-source windows, never a global reducer
      (s, dir) => Curation.tokenBudgetSelect(docs(s, dir), budget = 4096)
        .orderBy("source", "doc_id"),
      s"""WITH q AS (
         |  SELECT source, doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS toks,
         |    (least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
         |      + least((CAST(len(regexp_extract_all(lower(text),
         |            '\\b(${graft.ext.TextAnalysis.StopEn.mkString("|")})\\b')) AS DOUBLE)
         |          / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE), 1.0)) * 4.0, 1.0)
         |      + (1.0 - least((CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |          / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 5.0, 1.0))) / 3.0 AS qual
         |  FROM documents
         |), c AS (
         |  SELECT source, doc_id, toks,
         |    CAST(sum(toks) OVER (PARTITION BY source ORDER BY qual DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM q
         |)
         |SELECT source, doc_id, toks, cum FROM c WHERE cum <= 4096
         |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d50_token_budget_mixture",
      // temperature mixing by TOKEN mass: per-source token budget ∝
      // m^τ of a 40k-token total (τ=0.5), each source filling its
      // budget with its best docs. Same derived Zipfian head as d42 so
      // the τ reweighting binds; weights 9dp-rounded before the floor.
      (s, dir) => Curation.tokenBudgetMixture(
        docs(s, dir).select(col("doc_id"), col("text"),
          when(col("doc_id") % 10 < 7, lit("head"))
            .otherwise(col("source")).as("source")),
        totalBudget = 40000, tau = 0.5).orderBy("source", "doc_id"),
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |    CASE WHEN doc_id % 10 < 7 THEN 'head' ELSE source END AS source
         |  FROM documents
         |), q AS (
         |  SELECT source, doc_id,
         |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS toks,
         |    (least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
         |      + least((CAST(len(regexp_extract_all(lower(text),
         |            '\\b(${graft.ext.TextAnalysis.StopEn.mkString("|")})\\b')) AS DOUBLE)
         |          / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE), 1.0)) * 4.0, 1.0)
         |      + (1.0 - least((CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |          / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 5.0, 1.0))) / 3.0 AS qual
         |  FROM d
         |), sz AS (
         |  SELECT source, sum(toks) AS m FROM q GROUP BY 1
         |), bud AS (
         |  SELECT source,
         |    CAST(floor(40000.0 * round(pow(m, 0.5) /
         |      (SELECT sum(pow(m, 0.5)) FROM sz), 9)) AS BIGINT) AS budget
         |  FROM sz
         |), c AS (
         |  SELECT source, doc_id, toks,
         |    CAST(sum(toks) OVER (PARTITION BY source ORDER BY qual DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM q
         |)
         |SELECT source, doc_id, toks, cum, budget
         |FROM c JOIN bud USING (source) WHERE cum <= budget
         |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d52_prototype_prune",
      // D4's diversification step in exact mode: nlist=1 puts the whole
      // corpus in one cell, centroid = element-wise mean, each doc's
      // prototypicality = guarded cosine to it ROUNDED to 6dp (drift in
      // the mean cannot flip ranks), keep the floor(n/2)
      // least-prototypical (most diverse) documents.
      (s, dir) => Dedup.prototypePrune(emb(s, dir), keepFrac = 0.5,
        nlist = 1, normalized = false).orderBy("id"),
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM embeddings
        |), cent AS (
        |  SELECT i, avg(CAST(x AS DOUBLE)) AS m FROM e GROUP BY 1
        |), dots AS (
        |  SELECT vec_id, sum(CAST(x AS DOUBLE) * m) AS dot,
        |         sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nx
        |  FROM e JOIN cent USING (i) GROUP BY 1
        |), cn AS (
        |  SELECT sqrt(sum(m * m)) AS nm FROM cent
        |), sc AS (
        |  SELECT vec_id,
        |         round(dot / (CASE WHEN nx = 0 THEN 1 ELSE nx END)
        |                   / (CASE WHEN nm = 0 THEN 1 ELSE nm END), 6) AS cos
        |  FROM dots CROSS JOIN cn
        |), rk AS (
        |  SELECT vec_id, cos,
        |         row_number() OVER (ORDER BY cos, vec_id) AS rk,
        |         count(*) OVER () AS n
        |  FROM sc
        |)
        |SELECT vec_id AS id, CAST(0 AS BIGINT) AS cell, cos,
        |       CAST(rk AS BIGINT) AS rk,
        |       CAST(floor(n * 0.5) AS BIGINT) AS n_keep
        |FROM rk WHERE rk <= floor(n * 0.5) ORDER BY id""".stripMargin
    ),
    QueryDef(
      "d53_d4_pipeline",
      // D4 end to end (Tirumala et al. 2023): SemDeDup (smaller-id
      // keeper at tau=0.35) THEN prototype pruning over the survivors
      // (keep the 50% farthest from the survivor-mean centroid) — both
      // in exact mode (nlist=1, plain cosine) on the %3 subset, so the
      // whole two-stage method is value-gated.
      (s, dir) => {
        val sub = emb(s, dir).where(col("vec_id") % 3 === 0)
        val kept = Dedup.semanticDedup(sub, tau = 0.35, nlist = 1,
          normalized = false).select(col("id").as("vec_id"))
        Dedup.prototypePrune(sub.join(kept, Seq("vec_id"), "left_semi"),
          keepFrac = 0.5, nlist = 1, normalized = false).orderBy("id")
      },
      """WITH e0 AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM embeddings WHERE vec_id % 3 = 0
        |), n0 AS (
        |  SELECT vec_id, CASE WHEN sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |    THEN 1 ELSE sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) END AS nm
        |  FROM e0 GROUP BY 1
        |), pdots AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b2,
        |         sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
        |  FROM e0 a JOIN e0 b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2
        |), drops AS (
        |  SELECT DISTINCT b2 AS vec_id
        |  FROM pdots JOIN n0 na ON na.vec_id = a JOIN n0 nb ON nb.vec_id = b2
        |  WHERE dot / na.nm / nb.nm >= 0.35
        |), e AS (
        |  SELECT * FROM e0 WHERE vec_id NOT IN (SELECT vec_id FROM drops)
        |), cent AS (
        |  SELECT i, avg(CAST(x AS DOUBLE)) AS m FROM e GROUP BY 1
        |), dots AS (
        |  SELECT vec_id, sum(CAST(x AS DOUBLE) * m) AS dot,
        |         sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nx
        |  FROM e JOIN cent USING (i) GROUP BY 1
        |), cn AS (
        |  SELECT sqrt(sum(m * m)) AS nm FROM cent
        |), sc AS (
        |  SELECT vec_id,
        |         round(dot / (CASE WHEN nx = 0 THEN 1 ELSE nx END)
        |                   / (CASE WHEN nm = 0 THEN 1 ELSE nm END), 6) AS cos
        |  FROM dots CROSS JOIN cn
        |), rk AS (
        |  SELECT vec_id, cos,
        |         row_number() OVER (ORDER BY cos, vec_id) AS rk,
        |         count(*) OVER () AS n
        |  FROM sc
        |)
        |SELECT vec_id AS id, CAST(0 AS BIGINT) AS cell, cos,
        |       CAST(rk AS BIGINT) AS rk,
        |       CAST(floor(n * 0.5) AS BIGINT) AS n_keep
        |FROM rk WHERE rk <= floor(n * 0.5) ORDER BY id""".stripMargin
    ),
    QueryDef(
      "d19_dedup_incremental",
      // incremental delivery dedup: the batch split (doc_id % 5 = 0)
      // cross-checked against a persisted MinHash index of the corpus
      // split — build + parquet round-trip + band-join + exact verify
      // all under the brute-force cross-pair oracle
      (s, dir) =>
        mhIndexFor(s, dir)
          .dedupBatch(docs(s, dir).where(col("doc_id") % 5 === 0), tau = 0.5)
          .orderBy("doc_id", "dup_of"),
      s"""WITH tok AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents
         |), tri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM tok
         |), sz AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM tri x JOIN tri y ON x.shingle = y.shingle
         |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0
         |  GROUP BY 1, 2
         |)
         |SELECT a AS doc_id, b AS dup_of,
         |  CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) AS jaccard
         |FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
         |WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
         |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d20_dedup_compacted",
      // the d19 pipeline over a COMPACTED index: corpus split written as
      // base + two appended segments, folded into base, reloaded — same
      // exact cross-pair oracle, so the fold is value-gated end to end
      (s, dir) =>
        mhCompactedIndexFor(s, dir)
          .dedupBatch(docs(s, dir).where(col("doc_id") % 5 === 0), tau = 0.5)
          .orderBy("doc_id", "dup_of"),
      s"""WITH tok AS (
         |  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents
         |), tri AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
         |  FROM tok
         |), sz AS (SELECT doc_id, count(*) AS sz FROM tri GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
         |  FROM tri x JOIN tri y ON x.shingle = y.shingle
         |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0
         |  GROUP BY 1, 2
         |)
         |SELECT a AS doc_id, b AS dup_of,
         |  CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) AS jaccard
         |FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
         |WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.5
         |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d21_dedup_semantic_exact",
      // SemDeDup exact mode: nlist=1 makes the cluster blocking
      // structurally complete (one cluster = all pairs), so the keeper
      // rule is fully DuckDB-checkable — the d14/s07 exact-twin pattern.
      // normalized=false keeps the plain-cosine spelling the oracle
      // reproduces. id%3 subset bounds the all-pairs count at bench SF.
      (s, dir) =>
        Dedup
          .semanticDedup(emb(s, dir).where(col("vec_id") % 3 === 0),
            tau = 0.35, nlist = 1, normalized = false)
          .select(col("id"))
          .orderBy("id"),
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM embeddings WHERE vec_id % 3 = 0
        |), dots AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |         sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2
        |), nrm AS (
        |  -- zero-norm guard mirroring Similarity.cosineSafe: divide by 1,
        |  -- not 0 - NaN would order ABOVE the threshold in DuckDB
        |  SELECT vec_id, CASE WHEN sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
        |    THEN 1 ELSE sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) END AS n
        |  FROM e GROUP BY 1
        |), drp AS (
        |  SELECT DISTINCT b AS id
        |  FROM dots JOIN nrm na ON na.vec_id = a JOIN nrm nb ON nb.vec_id = b
        |  WHERE dot / na.n / nb.n >= 0.35
        |)
        |SELECT vec_id AS id FROM embeddings
        |WHERE vec_id % 3 = 0 AND vec_id NOT IN (SELECT id FROM drp)
        |ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d22_dedup_semantic",
      // the 100 TB path: k-means cells bound the pairwise work; cluster
      // blocking is approximate (cross-cell near-dups are never compared)
      // → rows-only for the driver, like d06. ExtSpec pins the one-sided
      // invariant (exact survivors ⊆ clustered survivors) + agreement.
      (s, dir) =>
        Dedup.semanticDedup(emb(s, dir), tau = 0.35, nlist = 8,
            assignment = Some(semAssignFor(s, dir, 8)))
          .select(col("id"))
          .orderBy("id"),
      None
    ),
    QueryDef(
      "d23_dedup_semantic_incremental",
      // incremental semantic dedup: the batch split (vec_id % 5 = 0)
      // cross-checked against a persisted SemanticIndex of the corpus
      // split — build + parquet round-trip + cell join + threshold all
      // under the brute-force cross-pair oracle (exact mode: nlist=1,
      // plain cosine; the d19 pattern for embeddings)
      (s, dir) =>
        semIndexFor(s, dir)
          .dedupBatch(emb(s, dir).where(col("vec_id") % 5 === 0), tau = 0.35)
          .select(col("vec_id"), col("dup_of"), round(col("cos"), 4).as("cos"))
          .orderBy("vec_id", "dup_of"),
      semCrossSql
    ),
    QueryDef(
      "d24_dedup_semantic_compacted",
      // the d23 pipeline over a COMPACTED index: corpus split written as
      // base + two appended cell-partitioned segments, folded into base,
      // reloaded — same exact cross-pair oracle, so the cell-layout fold
      // is value-gated end to end (the d20 pattern)
      (s, dir) =>
        semCompactedIndexFor(s, dir)
          .dedupBatch(emb(s, dir).where(col("vec_id") % 5 === 0), tau = 0.35)
          .select(col("vec_id"), col("dup_of"), round(col("cos"), 4).as("cos"))
          .orderBy("vec_id", "dup_of"),
      semCrossSql
    ),

    QueryDef(
      "d26_dedup_exact_incremental",
      // incremental EXACT dedup — completes the {exact, MinHash,
      // semantic} × {batch, incremental} matrix: the batch split
      // cross-checked against a persisted FingerprintIndex of the
      // corpus split (build + parquet round-trip + append + fold +
      // reload), all under the DuckDB md5 cross-pair oracle. The index
      // is built as base + one appended segment then COMPACTED, so the
      // d20/d24 fold pattern is value-gated here too.
      (s, dir) =>
        fpIndexFor(s, dir)
          .dedupBatch(docs(s, dir).where(col("doc_id") % 5 === 0))
          .select(col("doc_id"), col("dup_of"), col("fp"))
          .orderBy("doc_id", "dup_of"),
      s"""WITH f AS (SELECT doc_id, $fpSql AS fp FROM documents)
         |SELECT x.doc_id, y.doc_id AS dup_of, x.fp
         |FROM f x JOIN f y ON x.fp = y.fp
         |WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0
         |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d63_dedup_exact_bloom",
      // d26 through the Bloom gate: same corpus/batch split, same md5
      // cross-pair oracle, but the index carries per-segment Bloom
      // sidecars (built, appended, compaction-rebuilt) and the check
      // runs dedupBatchBloom — membership prefilter + exact-join
      // verification. Identical rows to d26 by construction (no false
      // negatives; false positives discharged by the join), so the
      // whole gate lifecycle is value-gated. Unlike d26 (0 cross-pairs
      // at sf0.01 — the split has no exact dups), the batch here is
      // the %5=0 slice PLUS a re-keyed copy of the indexed %5=1 slice,
      // so both gate paths carry mass: the copies MUST hit the filter
      // and match, the fresh slice exercises the reject/false-positive
      // path (FingerprintIndexSpec pins the zero-IO fast path).
      (s, dir) => {
        val d = docs(s, dir)
        val batch = d.where(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .unionByName(d.where(col("doc_id") % 5 === 1)
            .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        fpBloomIndexFor(s, dir)
          .dedupBatchBloom(batch)
          .select(col("doc_id"), col("dup_of"), col("fp"))
          .orderBy("doc_id", "dup_of")
      },
      s"""WITH b AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 1
         |), fx AS (SELECT doc_id, $fpSql AS fp FROM b),
         |fy AS (SELECT doc_id, $fpSql AS fp FROM documents WHERE doc_id % 5 <> 0)
         |SELECT x.doc_id, y.doc_id AS dup_of, x.fp
         |FROM fx x JOIN fy y ON x.fp = y.fp
         |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d64_dedup_editdistance",
      // edit-distance-verified near-dup pairs: d02's capped shingle
      // blocking pre-filtered at Jaccard >= 0.2, then the surviving
      // pairs verified by normalized Levenshtein similarity
      // 1 - dist/max(len) >= 0.5 — the order-sensitive verify set
      // signals can't express (permuting lines preserves Jaccard,
      // charges edit distance). Both engines compute classic
      // Levenshtein over characters and one IEEE division, so the full
      // (a, b, sim) row is value-gated.
      (s, dir) =>
        Dedup.editDistancePairs(docs(s, dir), n = 3, tau = 0.5,
            blockTau = 0.2, shingled = Some(shinglesFor(s, dir, 3)))
          .select(col("a"), col("b"), round(col("sim"), 4).as("sim"))
          .orderBy("a", "b"),
      s"""$shingleCapCtes
        |, cand AS (
        |  SELECT a, b
        |  FROM inter JOIN sz na ON na.doc_id = a JOIN sz nb ON nb.doc_id = b
        |  WHERE CAST(c AS DOUBLE) / CAST(na.sz + nb.sz - c AS DOUBLE) >= 0.2
        |), v AS (
        |  SELECT a, b,
        |    1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
        |      / CAST(greatest(length(da.text), length(db.text), 1) AS DOUBLE) AS sim
        |  FROM cand JOIN documents da ON da.doc_id = a
        |            JOIN documents db ON db.doc_id = b
        |)
        |SELECT a, b, round(sim, 4) AS sim FROM v WHERE sim >= 0.5
        |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d27_dedup_span_overlap",
      // char-16-gram span-overlap pairs (Lee et al. 2021 substring-dup
      // signal): md5-prefix-sampled grams, frequency-cap blocking,
      // shared-count pairs — exactly reproducible in SQL, full oracle
      (s, dir) =>
        Dedup.charGramOverlap(docs(s, dir), k = 16, prefix = "0",
            minShared = 2, maxGramFreq = 200,
            positions = Some(gramPositionsFor(s, dir, 16, "0")))
          .orderBy("a", "b"),
      """WITH g0 AS (
        |  SELECT doc_id, md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), g AS (
        |  SELECT DISTINCT doc_id, g FROM g0 WHERE g LIKE '0%'
        |), capped AS (
        |  SELECT doc_id, g FROM (
        |    SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM g)
        |  WHERE df <= 200
        |)
        |SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS shared
        |FROM capped x JOIN capped y ON x.g = y.g AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d28_dedup_span_extent",
      // d27's span-EXTENT upgrade (ROADMAP r9 #3): longest contiguously-
      // shared character run per pair via the alignment diagonal trick —
      // matches at constant offset d = i_a - i_b, runs split at sampled-
      // position gaps > 64, extent = last - first + k. Window arithmetic
      // is engine-portable, so the full (a, b, span, grams) row is
      // value-gated in DuckDB.
      (s, dir) =>
        Dedup.charGramSpans(docs(s, dir), k = 16, prefix = "0",
            minShared = 2, maxGramFreq = 200, maxGap = 64,
            runs = Some(gramRunsFor(s, dir)))
          .orderBy("a", "b"),
      """WITH g0 AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
        |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), p AS (
        |  SELECT doc_id, i, g FROM g0 WHERE g LIKE '0%'
        |), rare AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM p GROUP BY 1)
        |  WHERE df <= 200
        |), capped AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT p.doc_id, p.i, p.g,
        |           row_number() OVER (PARTITION BY p.g, p.doc_id ORDER BY p.i) AS occ
        |    FROM p JOIN rare USING (g))
        |  WHERE occ <= 8
        |), m AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
        |  FROM capped x JOIN capped y ON x.g = y.g AND x.doc_id < y.doc_id
        |), r AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 64
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), r2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r
        |), runs AS (
        |  SELECT a, b, d, run, count(*) AS cnt, max(pos) - min(pos) + 16 AS ext
        |  FROM r2 GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2
        |)
        |SELECT a, b, CAST(max(ext) AS BIGINT) AS span,
        |       CAST(max(cnt) AS BIGINT) AS grams
        |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d29_decontaminate_spans",
      // SPAN-level eval-set decontamination: d28's diagonal-run extents
      // across train (doc_id % 20 != 0) × benchmark (% 20 == 0), d11's
      // slice convention. The bench gram table broadcasts; the df cap is
      // train-side only. Full oracle incl. the run window.
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.charGramSpansAgainst(
            d.where(col("doc_id") % 20 =!= 0),
            d.where(col("doc_id") % 20 === 0),
            k = 16, prefix = "0", minShared = 2, maxGramFreq = 200,
            maxGap = 64, runs = Some(gramRunsAgainstFor(s, dir)))
          .orderBy("doc_id", "bench_id")
      },
      """WITH g0 AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
        |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), p AS (
        |  SELECT doc_id, i, g FROM g0 WHERE g LIKE '0%'
        |), tp AS (
        |  SELECT doc_id, i, g FROM p WHERE doc_id % 20 <> 0
        |), bp AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT doc_id, i, g,
        |           row_number() OVER (PARTITION BY g, doc_id ORDER BY i) AS occ
        |    FROM p WHERE doc_id % 20 = 0)
        |  WHERE occ <= 8
        |), rare AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM tp GROUP BY 1)
        |  WHERE df <= 200
        |), capped AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT tp.doc_id, tp.i, tp.g,
        |           row_number() OVER (PARTITION BY tp.g, tp.doc_id ORDER BY tp.i) AS occ
        |    FROM tp JOIN rare USING (g))
        |  WHERE occ <= 8
        |), m AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
        |  FROM capped x JOIN bp y ON x.g = y.g
        |), r AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 64
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), r2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r
        |), runs AS (
        |  SELECT a, b, d, run, count(*) AS cnt, max(pos) - min(pos) + 16 AS ext
        |  FROM r2 GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2
        |)
        |SELECT a AS doc_id, b AS bench_id, CAST(max(ext) AS BIGINT) AS span,
        |       CAST(max(cnt) AS BIGINT) AS grams
        |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d31_decontaminate_indexed",
      // d29's streaming face: the benchmark gram-position index is built
      // over the eval slice, persisted, reloaded, and a delivery batch
      // (train docs, doc_id % 5 == 0) checks against it — full oracle
      // over the whole build → persist → load → check lifecycle. The df
      // cap is computed on the BATCH (the contamination semantics: "is
      // this delivery leaking eval text", not "did all history").
      (s, dir) =>
        spanIndexFor(s, dir)
          .check(docs(s, dir)
            .where(col("doc_id") % 20 =!= 0 && col("doc_id") % 5 === 0))
          .orderBy("doc_id", "bench_id"),
      """WITH g0 AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
        |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), p AS (
        |  SELECT doc_id, i, g FROM g0 WHERE g LIKE '0%'
        |), tp AS (
        |  SELECT doc_id, i, g FROM p WHERE doc_id % 20 <> 0 AND doc_id % 5 = 0
        |), bp AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT doc_id, i, g,
        |           row_number() OVER (PARTITION BY g, doc_id ORDER BY i) AS occ
        |    FROM p WHERE doc_id % 20 = 0)
        |  WHERE occ <= 8
        |), rare AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM tp GROUP BY 1)
        |  WHERE df <= 200
        |), capped AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT tp.doc_id, tp.i, tp.g,
        |           row_number() OVER (PARTITION BY tp.g, tp.doc_id ORDER BY tp.i) AS occ
        |    FROM tp JOIN rare USING (g))
        |  WHERE occ <= 8
        |), m AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
        |  FROM capped x JOIN bp y ON x.g = y.g
        |), r AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 64
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), r2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r
        |), runs AS (
        |  SELECT a, b, d, run, count(*) AS cnt, max(pos) - min(pos) + 16 AS ext
        |  FROM r2 GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2
        |)
        |SELECT a AS doc_id, b AS bench_id, CAST(max(ext) AS BIGINT) AS span,
        |       CAST(max(cnt) AS BIGINT) AS grams
        |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d38_decontaminate_exact_indexed",
      // d31's persisted-index lifecycle at d37's exactness: the index
      // (positions + benchmark text + params) is built over the eval
      // slice, persisted, reloaded, and the delivery's sampled
      // candidates are per-char verified against the index's OWN
      // persisted text — build → persist → load → checkExact, exact
      // longest leaked span per pair, full oracle.
      (s, dir) =>
        spanIndexFor(s, dir)
          .checkExact(docs(s, dir)
            .where(col("doc_id") % 20 =!= 0 && col("doc_id") % 5 === 0))
          .orderBy("doc_id", "bench_id"),
      """WITH g0 AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
        |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), p AS (
        |  SELECT doc_id, i, g FROM g0 WHERE g LIKE '0%'
        |), tp AS (
        |  SELECT doc_id, i, g FROM p WHERE doc_id % 20 <> 0 AND doc_id % 5 = 0
        |), bp AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT doc_id, i, g,
        |           row_number() OVER (PARTITION BY g, doc_id ORDER BY i) AS occ
        |    FROM p WHERE doc_id % 20 = 0)
        |  WHERE occ <= 8
        |), rare AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM tp GROUP BY 1)
        |  WHERE df <= 200
        |), capped AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT tp.doc_id, tp.i, tp.g,
        |           row_number() OVER (PARTITION BY tp.g, tp.doc_id ORDER BY tp.i) AS occ
        |    FROM tp JOIN rare USING (g))
        |  WHERE occ <= 8
        |), m AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
        |  FROM capped x JOIN bp y ON x.g = y.g
        |), r AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 64
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), r2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r
        |), sruns AS (
        |  SELECT a, b, d, min(pos) AS sa, max(pos) - min(pos) + 16 AS ext
        |  FROM r2 GROUP BY a, b, d, run HAVING count(*) >= 2
        |), diag AS (
        |  SELECT DISTINCT a, b, d FROM sruns
        |), ap AS (
        |  SELECT dg.a, dg.b, dg.d, CAST(u.p AS BIGINT) AS pos
        |  FROM diag dg
        |  JOIN documents da ON da.doc_id = dg.a
        |  JOIN documents db ON db.doc_id = dg.b,
        |  UNNEST(range(greatest(1, dg.d + 1),
        |               least(length(da.text), length(db.text) + dg.d) + 1)) AS u(p)
        |  WHERE substr(da.text, CAST(u.p AS INTEGER), 1) =
        |        substr(db.text, CAST(u.p - dg.d AS INTEGER), 1)
        |), er AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 1
        |              THEN 1 ELSE 0 END AS brk
        |  FROM ap
        |), er2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM er
        |), eruns AS (
        |  SELECT a, b, d, min(pos) AS sa, max(pos) - min(pos) + 1 AS ext
        |  FROM er2 GROUP BY a, b, d, run
        |)
        |SELECT e.a AS doc_id, e.b AS bench_id,
        |       CAST(max(e.ext) AS BIGINT) AS span,
        |       CAST(count(*) AS BIGINT) AS nruns
        |FROM eruns e
        |WHERE e.ext >= 16 AND EXISTS (
        |  SELECT 1 FROM sruns s
        |  WHERE s.a = e.a AND s.b = e.b AND s.d = e.d
        |    AND e.sa < s.sa + s.ext + 64 AND s.sa - 64 < e.sa + e.ext)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d32_line_dedup",
      // C4-style exact line dedup (Raffel et al. 2020; the
      // RefinedWeb/Gopher line-granularity variant): the fixture has no
      // newlines, so BOTH engines first synthesize line structure by
      // breaking after every 8th word (same regex, engine-native
      // backreference spelling), then later duplicate lines ≥ 20 chars
      // are removed keeping the corpus-order first occurrence. The
      // whole cleaned corpus is string-compared; at sf0.01 ~87% of the
      // synthesized lines are cross-doc duplicates, so the keeper rule
      // and the reassembly are both load-bearing.
      (s, dir) =>
        Dedup.dedupLines(linedDocs(s, dir), sep = "\n", minLen = 20)
          .orderBy("doc_id"),
      """WITH lined AS (
        |  SELECT doc_id,
        |         regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS t
        |  FROM documents
        |), split AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS ls FROM lined
        |), lines AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS idx,
        |         ls[CAST(u.i AS INTEGER)] AS line
        |  FROM split, UNNEST(range(1, len(ls) + 1)) AS u(i)
        |), elig AS (
        |  SELECT doc_id, idx, line,
        |         row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
        |  FROM lines WHERE length(line) >= 20
        |), kept AS (
        |  SELECT doc_id, idx, line FROM elig WHERE rn = 1
        |  UNION ALL
        |  SELECT doc_id, idx, line FROM lines WHERE length(line) < 20
        |), agg AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
        |  FROM kept GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(a.text, '') AS text
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d33_line_dedup_incremental",
      // d32's incremental face: the line-hash index is built over the
      // lined history slice (doc_id % 5 != 0) as base + one appended
      // segment, COMPACTED, reloaded, then a delivery (doc_id % 5 == 0)
      // cleans against it — history dups AND within-batch repeats
      // removed, short lines exempt. Full oracle over the cleaned
      // delivery, covering the entire build → append → fold → reload →
      // clean lifecycle (the d26 pattern at line grain).
      (s, dir) =>
        lineIndexFor(s, dir)
          .dedupLinesBatch(linedDocs(s, dir).where(col("doc_id") % 5 === 0))
          .orderBy("doc_id"),
      """WITH lined AS (
        |  SELECT doc_id,
        |         regexp_replace(text, '((?:\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS t
        |  FROM documents
        |), split AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS ls FROM lined
        |), lines AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS idx,
        |         ls[CAST(u.i AS INTEGER)] AS line
        |  FROM split, UNNEST(range(1, len(ls) + 1)) AS u(i)
        |), hist AS (
        |  SELECT DISTINCT line FROM lines
        |  WHERE doc_id % 5 <> 0 AND length(line) >= 20
        |), batchl AS (
        |  SELECT doc_id, idx, line FROM lines WHERE doc_id % 5 = 0
        |), elig AS (
        |  SELECT doc_id, idx, line,
        |         row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
        |  FROM batchl WHERE length(line) >= 20
        |), kept AS (
        |  SELECT e.doc_id, e.idx, e.line
        |  FROM elig e LEFT JOIN hist h ON e.line = h.line
        |  WHERE e.rn = 1 AND h.line IS NULL
        |  UNION ALL
        |  SELECT doc_id, idx, line FROM batchl WHERE length(line) < 20
        |), agg AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
        |  FROM kept GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(a.text, '') AS text
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d30_span_removal",
      // Lee et al. 2021's actual intervention, end to end: shared runs of
      // ≥ 48 chars are EXCISED from the larger-id doc (pairwise
      // smaller-id keeper), via interval union + complement splice — the
      // full cleaned corpus is string-compared against DuckDB.
      (s, dir) =>
        Dedup.removeSharedSpans(docs(s, dir), k = 16, prefix = "0",
            minShared = 2, maxGramFreq = 200, maxGap = 64, minSpan = 48,
            runs = Some(gramRunsFor(s, dir)))
          .orderBy("doc_id"),
      """WITH g0 AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
        |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), p AS (
        |  SELECT doc_id, i, g FROM g0 WHERE g LIKE '0%'
        |), rare AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM p GROUP BY 1)
        |  WHERE df <= 200
        |), capped AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT p.doc_id, p.i, p.g,
        |           row_number() OVER (PARTITION BY p.g, p.doc_id ORDER BY p.i) AS occ
        |    FROM p JOIN rare USING (g))
        |  WHERE occ <= 8
        |), m AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
        |  FROM capped x JOIN capped y ON x.g = y.g AND x.doc_id < y.doc_id
        |), r AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 64
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), r2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r
        |), runs AS (
        |  SELECT a, b, d, run, count(*) AS cnt,
        |         max(pos) - min(pos) + 16 AS ext, min(pos) AS sa
        |  FROM r2 GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2
        |), iv0 AS (
        |  SELECT b AS doc_id, sa - d AS s, sa - d + ext AS e
        |  FROM runs WHERE ext >= 48
        |), mg AS (
        |  SELECT doc_id, s, e,
        |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        |  FROM iv0
        |), mg2 AS (
        |  SELECT doc_id, s, e,
        |         sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM mg
        |), merged AS (
        |  SELECT doc_id, min(s) AS s, max(e) AS e FROM mg2 GROUP BY doc_id, grp
        |), gaps AS (
        |  SELECT doc_id,
        |         lag(e, 1, CAST(1 AS BIGINT)) OVER (PARTITION BY doc_id ORDER BY s) AS st,
        |         s
        |  FROM merged
        |), gsegs AS (
        |  SELECT doc_id, st, s - st AS ln FROM gaps WHERE s - st > 0
        |), tsegs AS (
        |  SELECT t.doc_id, t.st, length(dd.text) + 1 - t.st AS ln
        |  FROM (SELECT doc_id, max(e) AS st FROM merged GROUP BY 1) t
        |  JOIN documents dd USING (doc_id)
        |  WHERE length(dd.text) + 1 - t.st > 0
        |), segs AS (
        |  SELECT doc_id, st, ln FROM gsegs
        |  UNION ALL
        |  SELECT doc_id, st, ln FROM tsegs
        |), spliced AS (
        |  SELECT s.doc_id,
        |         string_agg(substr(dd.text, CAST(s.st AS INTEGER), CAST(s.ln AS INTEGER)),
        |                    '' ORDER BY s.st) AS text
        |  FROM segs s JOIN documents dd USING (doc_id) GROUP BY s.doc_id
        |), aff AS (
        |  SELECT DISTINCT doc_id FROM merged
        |)
        |SELECT a.doc_id, coalesce(sp.text, '') AS text
        |FROM aff a LEFT JOIN spliced sp USING (doc_id)
        |UNION ALL
        |SELECT doc_id, text FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM aff)
        |ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d39_span_removal_exact_global",
      // the full-fidelity Lee et al. 2021 intervention: EXACT runs
      // (every gram, consecutive diagonals — d35's memo) + cluster-
      // global keepers (d34's closure) → exactly one occurrence of
      // every duplicated substring ≥ 48 chars survives corpus-wide,
      // extents exact to the char. Oracle = d34's closure over the
      // unsampled maxGap=1 runs.
      (s, dir) =>
        Dedup.removeSharedSpansGlobal(docs(s, dir), k = 16, prefix = "",
            minShared = 1, maxGramFreq = 200, maxGap = 1, minSpan = 48,
            runs = Some(exactRunsFor(s, dir)))
          .orderBy("doc_id"),
      """WITH RECURSIVE p AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
        |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), rare AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM p GROUP BY 1)
        |  WHERE df <= 200
        |), capped AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT p.doc_id, p.i, p.g,
        |           row_number() OVER (PARTITION BY p.g, p.doc_id ORDER BY p.i) AS occ
        |    FROM p JOIN rare USING (g))
        |  WHERE occ <= 8
        |), m AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
        |  FROM capped x JOIN capped y ON x.g = y.g AND x.doc_id < y.doc_id
        |), r AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 1
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), r2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r
        |), runs AS (
        |  SELECT a, b, d, run, count(*) AS cnt,
        |         max(pos) - min(pos) + 16 AS ext, min(pos) AS sa
        |  FROM r2 GROUP BY 1, 2, 3, 4 HAVING count(*) >= 1
        |), sruns AS (
        |  SELECT a, b, d, ext, sa FROM runs WHERE ext >= 48
        |), nd AS (
        |  SELECT DISTINCT doc_id, s, e FROM (
        |    SELECT a AS doc_id, sa AS s, sa + ext AS e FROM sruns
        |    UNION
        |    SELECT b, sa - d, sa - d + ext FROM sruns)
        |), nk AS (
        |  SELECT doc_id, s, e,
        |         CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR) ||
        |           ':' || CAST(e AS VARCHAR) AS nid
        |  FROM nd
        |), re AS (
        |  SELECT CAST(a AS VARCHAR) || ':' || CAST(sa AS VARCHAR) || ':' ||
        |           CAST(sa + ext AS VARCHAR) AS u,
        |         CAST(b AS VARCHAR) || ':' || CAST(sa - d AS VARCHAR) || ':' ||
        |           CAST(sa - d + ext AS VARCHAR) AS v
        |  FROM sruns
        |), og AS (
        |  SELECT doc_id, s, e, nid,
        |         sum(CASE WHEN maxe IS NULL OR s >= maxe THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM (SELECT doc_id, s, e, nid,
        |               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        |        FROM nk)
        |), oe AS (
        |  SELECT u, v FROM (
        |    SELECT nid AS u,
        |           first_value(nid) OVER (PARTITION BY doc_id, grp
        |                                  ORDER BY s, e) AS v
        |    FROM og)
        |  WHERE u <> v
        |), edges AS (
        |  SELECT u, v FROM re UNION SELECT v, u FROM re
        |  UNION SELECT u, v FROM oe UNION SELECT v, u FROM oe
        |), reach(nid, l) AS (
        |  SELECT nid, nid FROM nk
        |  UNION
        |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.nid
        |), comp AS (SELECT nid, min(l) AS root FROM reach GROUP BY 1
        |), lab AS (
        |  SELECT k.doc_id, k.s, k.e,
        |         row_number() OVER (PARTITION BY c.root
        |                            ORDER BY k.doc_id, k.s, k.e) AS rn
        |  FROM nk k JOIN comp c USING (nid)
        |), iv0 AS (
        |  SELECT doc_id, s, e FROM lab WHERE rn > 1
        |), mg AS (
        |  SELECT doc_id, s, e,
        |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        |  FROM iv0
        |), mg2 AS (
        |  SELECT doc_id, s, e,
        |         sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM mg
        |), merged AS (
        |  SELECT doc_id, min(s) AS s, max(e) AS e FROM mg2 GROUP BY doc_id, grp
        |), gaps AS (
        |  SELECT doc_id,
        |         lag(e, 1, CAST(1 AS BIGINT)) OVER (PARTITION BY doc_id ORDER BY s) AS st,
        |         s
        |  FROM merged
        |), gsegs AS (
        |  SELECT doc_id, st, s - st AS ln FROM gaps WHERE s - st > 0
        |), tsegs AS (
        |  SELECT t.doc_id, t.st, length(dd.text) + 1 - t.st AS ln
        |  FROM (SELECT doc_id, max(e) AS st FROM merged GROUP BY 1) t
        |  JOIN documents dd USING (doc_id)
        |  WHERE length(dd.text) + 1 - t.st > 0
        |), segs AS (
        |  SELECT doc_id, st, ln FROM gsegs
        |  UNION ALL
        |  SELECT doc_id, st, ln FROM tsegs
        |), spliced AS (
        |  SELECT s.doc_id,
        |         string_agg(substr(dd.text, CAST(s.st AS INTEGER), CAST(s.ln AS INTEGER)),
        |                    '' ORDER BY s.st) AS text
        |  FROM segs s JOIN documents dd USING (doc_id) GROUP BY s.doc_id
        |), aff AS (
        |  SELECT DISTINCT doc_id FROM merged
        |)
        |SELECT a.doc_id, coalesce(sp.text, '') AS text
        |FROM aff a LEFT JOIN spliced sp USING (doc_id)
        |UNION ALL
        |SELECT doc_id, text FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM aff)
        |ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d35_span_extent_exact",
      // d28 at suffix-array exactness (Lee et al. 2021): EVERY k-gram
      // (no prefix sample) + strictly consecutive diagonals (maxGap=1)
      // make `span` the exact character length of the longest shared
      // substring — no conservative edges, sub-32-char spans visible.
      (s, dir) =>
        Dedup.charGramSpans(docs(s, dir), k = 16, prefix = "",
            minShared = 1, maxGramFreq = 200, maxGap = 1,
            runs = Some(exactRunsFor(s, dir)))
          .orderBy("a", "b"),
      """WITH p AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
        |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), rare AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM p GROUP BY 1)
        |  WHERE df <= 200
        |), capped AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT p.doc_id, p.i, p.g,
        |           row_number() OVER (PARTITION BY p.g, p.doc_id ORDER BY p.i) AS occ
        |    FROM p JOIN rare USING (g))
        |  WHERE occ <= 8
        |), m AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
        |  FROM capped x JOIN capped y ON x.g = y.g AND x.doc_id < y.doc_id
        |), r AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 1
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), r2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r
        |), runs AS (
        |  SELECT a, b, d, run, count(*) AS cnt, max(pos) - min(pos) + 16 AS ext
        |  FROM r2 GROUP BY 1, 2, 3, 4 HAVING count(*) >= 1
        |)
        |SELECT a, b, CAST(max(ext) AS BIGINT) AS span,
        |       CAST(max(cnt) AS BIGINT) AS grams
        |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d36_span_exactify",
      // filter-verify exactness at scale: the memoized SAMPLED runs are
      // candidate regions; aligned per-char comparison inside each
      // region (±64 slack) recovers every maximal exact run ≥ 16 chars
      // intersecting a candidate, extents exact to the character, with
      // runs touching their searched window re-entering at doubled
      // slack until maximal. Oracle: exact char runs per candidate
      // diagonal over the full texts, kept when they intersect a
      // sampled candidate region.
      (s, dir) =>
        Dedup.exactifyRuns(docs(s, dir), gramRunsFor(s, dir),
            minKeep = 16, slack = 64)
          .orderBy("a", "b", "d", "sa"),
      """WITH g0 AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
        |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), p AS (
        |  SELECT doc_id, i, g FROM g0 WHERE g LIKE '0%'
        |), rare AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM p GROUP BY 1)
        |  WHERE df <= 200
        |), capped AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT p.doc_id, p.i, p.g,
        |           row_number() OVER (PARTITION BY p.g, p.doc_id ORDER BY p.i) AS occ
        |    FROM p JOIN rare USING (g))
        |  WHERE occ <= 8
        |), m AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
        |  FROM capped x JOIN capped y ON x.g = y.g AND x.doc_id < y.doc_id
        |), r AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 64
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), r2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r
        |), sruns AS (
        |  SELECT a, b, d, min(pos) AS sa, max(pos) - min(pos) + 16 AS ext
        |  FROM r2 GROUP BY a, b, d, run HAVING count(*) >= 2
        |), diag AS (
        |  SELECT DISTINCT a, b, d FROM sruns
        |), ap AS (
        |  SELECT dg.a, dg.b, dg.d, CAST(u.p AS BIGINT) AS pos
        |  FROM diag dg
        |  JOIN documents da ON da.doc_id = dg.a
        |  JOIN documents db ON db.doc_id = dg.b,
        |  UNNEST(range(greatest(1, dg.d + 1),
        |               least(length(da.text), length(db.text) + dg.d) + 1)) AS u(p)
        |  WHERE substr(da.text, CAST(u.p AS INTEGER), 1) =
        |        substr(db.text, CAST(u.p - dg.d AS INTEGER), 1)
        |), er AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 1
        |              THEN 1 ELSE 0 END AS brk
        |  FROM ap
        |), er2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM er
        |), eruns AS (
        |  SELECT a, b, d, min(pos) AS sa, max(pos) - min(pos) + 1 AS ext
        |  FROM er2 GROUP BY a, b, d, run
        |)
        |SELECT e.a, e.b, e.d, e.sa, e.ext
        |FROM eruns e
        |WHERE e.ext >= 16 AND EXISTS (
        |  SELECT 1 FROM sruns s
        |  WHERE s.a = e.a AND s.b = e.b AND s.d = e.d
        |    AND e.sa < s.sa + s.ext + 64 AND s.sa - 64 < e.sa + e.ext)
        |ORDER BY 1, 2, 3, 4""".stripMargin
    ),
    QueryDef(
      "d37_decontaminate_exact",
      // EXACT leaked-extent decontamination: d29's sampled train ×
      // benchmark runs exactified per-char (cross-table exactifyRuns —
      // bench ids resolve in the bench slice), then reduced to the gate
      // a pipeline thresholds on: per (train, bench) pair, the exact
      // longest leaked span and the count of exact leaked runs.
      (s, dir) => {
        val d = docs(s, dir)
        val train = d.where(col("doc_id") % 20 =!= 0)
        val bench = d.where(col("doc_id") % 20 === 0)
        Dedup.exactifyRuns(train, gramRunsAgainstFor(s, dir),
            minKeep = 16, slack = 64, docsB = Some(bench))
          .groupBy(col("a").as("doc_id"), col("b").as("bench_id"))
          .agg(max(col("ext")).as("span"), count(lit(1)).as("nruns"))
          .orderBy("doc_id", "bench_id")
      },
      """WITH g0 AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
        |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), p AS (
        |  SELECT doc_id, i, g FROM g0 WHERE g LIKE '0%'
        |), tp AS (
        |  SELECT doc_id, i, g FROM p WHERE doc_id % 20 <> 0
        |), bp AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT doc_id, i, g,
        |           row_number() OVER (PARTITION BY g, doc_id ORDER BY i) AS occ
        |    FROM p WHERE doc_id % 20 = 0)
        |  WHERE occ <= 8
        |), rare AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM tp GROUP BY 1)
        |  WHERE df <= 200
        |), capped AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT tp.doc_id, tp.i, tp.g,
        |           row_number() OVER (PARTITION BY tp.g, tp.doc_id ORDER BY tp.i) AS occ
        |    FROM tp JOIN rare USING (g))
        |  WHERE occ <= 8
        |), m AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
        |  FROM capped x JOIN bp y ON x.g = y.g
        |), r AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 64
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), r2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r
        |), sruns AS (
        |  SELECT a, b, d, min(pos) AS sa, max(pos) - min(pos) + 16 AS ext
        |  FROM r2 GROUP BY a, b, d, run HAVING count(*) >= 2
        |), diag AS (
        |  SELECT DISTINCT a, b, d FROM sruns
        |), ap AS (
        |  SELECT dg.a, dg.b, dg.d, CAST(u.p AS BIGINT) AS pos
        |  FROM diag dg
        |  JOIN documents da ON da.doc_id = dg.a
        |  JOIN documents db ON db.doc_id = dg.b,
        |  UNNEST(range(greatest(1, dg.d + 1),
        |               least(length(da.text), length(db.text) + dg.d) + 1)) AS u(p)
        |  WHERE substr(da.text, CAST(u.p AS INTEGER), 1) =
        |        substr(db.text, CAST(u.p - dg.d AS INTEGER), 1)
        |), er AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 1
        |              THEN 1 ELSE 0 END AS brk
        |  FROM ap
        |), er2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM er
        |), eruns AS (
        |  SELECT a, b, d, min(pos) AS sa, max(pos) - min(pos) + 1 AS ext
        |  FROM er2 GROUP BY a, b, d, run
        |)
        |SELECT e.a AS doc_id, e.b AS bench_id,
        |       CAST(max(e.ext) AS BIGINT) AS span,
        |       CAST(count(*) AS BIGINT) AS nruns
        |FROM eruns e
        |WHERE e.ext >= 16 AND EXISTS (
        |  SELECT 1 FROM sruns s
        |  WHERE s.a = e.a AND s.b = e.b AND s.d = e.d
        |    AND e.sa < s.sa + s.ext + 64 AND s.sa - 64 < e.sa + e.ext)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "d34_span_removal_global",
      // d30 with Lee et al.'s keeper fidelity: connected components over
      // the runs' interval endpoints (run edges + same-doc overlap-group
      // edges) resolve each span cluster to ONE surviving occurrence —
      // the (id, s, e)-minimum — and every other occurrence is excised.
      // Oracle recomputes the closure with a recursive CTE over string
      // node keys, then reuses d30's merge/complement/splice machinery.
      (s, dir) =>
        Dedup.removeSharedSpansGlobal(docs(s, dir), k = 16, prefix = "0",
            minShared = 2, maxGramFreq = 200, maxGap = 64, minSpan = 48,
            runs = Some(gramRunsFor(s, dir)))
          .orderBy("doc_id"),
      """WITH RECURSIVE g0 AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS i,
        |         md5(substr(text, CAST(u.i AS INTEGER), 16)) AS g
        |  FROM documents, UNNEST(range(1, greatest(length(text) - 14, 1))) AS u(i)
        |), p AS (
        |  SELECT doc_id, i, g FROM g0 WHERE g LIKE '0%'
        |), rare AS (
        |  SELECT g FROM (
        |    SELECT g, count(DISTINCT doc_id) AS df FROM p GROUP BY 1)
        |  WHERE df <= 200
        |), capped AS (
        |  SELECT doc_id, i, g FROM (
        |    SELECT p.doc_id, p.i, p.g,
        |           row_number() OVER (PARTITION BY p.g, p.doc_id ORDER BY p.i) AS occ
        |    FROM p JOIN rare USING (g))
        |  WHERE occ <= 8
        |), m AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, x.i - y.i AS d, x.i AS pos
        |  FROM capped x JOIN capped y ON x.g = y.g AND x.doc_id < y.doc_id
        |), r AS (
        |  SELECT a, b, d, pos,
        |         CASE WHEN pos - lag(pos) OVER (PARTITION BY a, b, d ORDER BY pos) > 64
        |              THEN 1 ELSE 0 END AS brk
        |  FROM m
        |), r2 AS (
        |  SELECT a, b, d, pos,
        |         sum(brk) OVER (PARTITION BY a, b, d ORDER BY pos
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM r
        |), runs AS (
        |  SELECT a, b, d, run, count(*) AS cnt,
        |         max(pos) - min(pos) + 16 AS ext, min(pos) AS sa
        |  FROM r2 GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2
        |), sruns AS (
        |  SELECT a, b, d, ext, sa FROM runs WHERE ext >= 48
        |), nd AS (
        |  SELECT DISTINCT doc_id, s, e FROM (
        |    SELECT a AS doc_id, sa AS s, sa + ext AS e FROM sruns
        |    UNION
        |    SELECT b, sa - d, sa - d + ext FROM sruns)
        |), nk AS (
        |  SELECT doc_id, s, e,
        |         CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR) ||
        |           ':' || CAST(e AS VARCHAR) AS nid
        |  FROM nd
        |), re AS (
        |  SELECT CAST(a AS VARCHAR) || ':' || CAST(sa AS VARCHAR) || ':' ||
        |           CAST(sa + ext AS VARCHAR) AS u,
        |         CAST(b AS VARCHAR) || ':' || CAST(sa - d AS VARCHAR) || ':' ||
        |           CAST(sa - d + ext AS VARCHAR) AS v
        |  FROM sruns
        |), og AS (
        |  SELECT doc_id, s, e, nid,
        |         sum(CASE WHEN maxe IS NULL OR s >= maxe THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM (SELECT doc_id, s, e, nid,
        |               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        |        FROM nk)
        |), oe AS (
        |  SELECT u, v FROM (
        |    SELECT nid AS u,
        |           first_value(nid) OVER (PARTITION BY doc_id, grp
        |                                  ORDER BY s, e) AS v
        |    FROM og)
        |  WHERE u <> v
        |), edges AS (
        |  SELECT u, v FROM re UNION SELECT v, u FROM re
        |  UNION SELECT u, v FROM oe UNION SELECT v, u FROM oe
        |), reach(nid, l) AS (
        |  SELECT nid, nid FROM nk
        |  UNION
        |  SELECT e.v, r.l FROM reach r JOIN edges e ON e.u = r.nid
        |), comp AS (SELECT nid, min(l) AS root FROM reach GROUP BY 1
        |), lab AS (
        |  SELECT k.doc_id, k.s, k.e,
        |         row_number() OVER (PARTITION BY c.root
        |                            ORDER BY k.doc_id, k.s, k.e) AS rn
        |  FROM nk k JOIN comp c USING (nid)
        |), iv0 AS (
        |  SELECT doc_id, s, e FROM lab WHERE rn > 1
        |), mg AS (
        |  SELECT doc_id, s, e,
        |         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        |  FROM iv0
        |), mg2 AS (
        |  SELECT doc_id, s, e,
        |         sum(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM mg
        |), merged AS (
        |  SELECT doc_id, min(s) AS s, max(e) AS e FROM mg2 GROUP BY doc_id, grp
        |), gaps AS (
        |  SELECT doc_id,
        |         lag(e, 1, CAST(1 AS BIGINT)) OVER (PARTITION BY doc_id ORDER BY s) AS st,
        |         s
        |  FROM merged
        |), gsegs AS (
        |  SELECT doc_id, st, s - st AS ln FROM gaps WHERE s - st > 0
        |), tsegs AS (
        |  SELECT t.doc_id, t.st, length(dd.text) + 1 - t.st AS ln
        |  FROM (SELECT doc_id, max(e) AS st FROM merged GROUP BY 1) t
        |  JOIN documents dd USING (doc_id)
        |  WHERE length(dd.text) + 1 - t.st > 0
        |), segs AS (
        |  SELECT doc_id, st, ln FROM gsegs
        |  UNION ALL
        |  SELECT doc_id, st, ln FROM tsegs
        |), spliced AS (
        |  SELECT s.doc_id,
        |         string_agg(substr(dd.text, CAST(s.st AS INTEGER), CAST(s.ln AS INTEGER)),
        |                    '' ORDER BY s.st) AS text
        |  FROM segs s JOIN documents dd USING (doc_id) GROUP BY s.doc_id
        |), aff AS (
        |  SELECT DISTINCT doc_id FROM merged
        |)
        |SELECT a.doc_id, coalesce(sp.text, '') AS text
        |FROM aff a LEFT JOIN spliced sp USING (doc_id)
        |UNION ALL
        |SELECT doc_id, text FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM aff)
        |ORDER BY doc_id""".stripMargin
    ),
    QueryDef(
      "d25_corpus_pipeline_semantic",
      // Capstone composition of the round-8 family, exactly oracle-gated
      // end to end: repetition-quality filter (dupTokenFraction) →
      // feature-hashed TF vectors (md5-60bit, dim 32) → EXACT semantic
      // dedup over those vectors (nlist=1, plain cosine) → per-source
      // corpus stats. tau=0.982 sits in a measured empty band of the
      // fixture's pair-cosine distribution (nearest values ≥3e-3 away —
      // cross-engine fp summation differences are ~1e-15).
      (s, dir) => {
        val kept1 = docs(s, dir)
          .where(TextAnalysis.dupTokenFraction(col("text")) <= 0.65)
        // memoized + cached: the exact dedup self-joins this table, and
        // an uncached plan would re-run the md5 hashed-TF build (the
        // pipeline's dominant cost) once per join side
        val vecs = d25VecsFor(s, dir)
        val surv = Dedup.semanticDedup(vecs, tau = 0.982, nlist = 1,
          normalized = false, idCol = "doc_id", vecCol = "vec")
        kept1
          .join(surv.select(col("id").as("doc_id")), Seq("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"))
          .orderBy("source")
      }, {
        val hexVal = hexValSql
        s"""WITH kept1 AS (
           |  SELECT doc_id, text, source FROM documents
           |  WHERE CASE WHEN len(regexp_extract_all(text, '\\S+')) = 0 THEN 0.0
           |    ELSE 1.0 - CAST(len(list_distinct(regexp_extract_all(text, '\\S+'))) AS DOUBLE)
           |      / len(regexp_extract_all(text, '\\S+')) END <= 0.65
           |), tok AS (
           |  SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9]+')) AS tok FROM kept1
           |), h AS (
           |  SELECT doc_id, CAST(($hexVal) % 32 AS BIGINT) AS bucket FROM tok
           |), c AS (
           |  SELECT doc_id, bucket, count(*) AS cnt FROM h GROUP BY 1, 2
           |), nn AS (
           |  SELECT doc_id, sqrt(sum(CAST(cnt * cnt AS DOUBLE))) AS nrm FROM c GROUP BY 1
           |), w AS (
           |  SELECT c.doc_id, bucket, CAST(cnt AS DOUBLE) / nrm AS w
           |  FROM c JOIN nn ON nn.doc_id = c.doc_id
           |), dots AS (
           |  SELECT a.doc_id AS a, b.doc_id AS b, sum(a.w * b.w) AS dot
           |  FROM w a JOIN w b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2
           |), vn AS (
           |  SELECT doc_id, CASE WHEN sqrt(sum(w * w)) = 0 THEN 1
           |    ELSE sqrt(sum(w * w)) END AS n
           |  FROM w GROUP BY 1
           |), drp AS (
           |  SELECT DISTINCT b FROM dots
           |  JOIN vn na ON na.doc_id = a JOIN vn nb ON nb.doc_id = b
           |  WHERE dot / na.n / nb.n >= 0.982
           |)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS n_tokens
           |FROM kept1 WHERE doc_id NOT IN (SELECT b FROM drp)
           |  -- token-less docs have no vector: the engine pipeline drops
           |  -- them at the vecs join, so the oracle must too
           |  AND doc_id IN (SELECT DISTINCT doc_id FROM c)
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }
    ),

    // ---- similarity search -------------------------------------------
    QueryDef(
      "s01_sim_topk",
      (s, dir) =>
        Similarity
          .topkBruteForce(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      bruteTopkSql
    ),
    QueryDef(
      "s14_sim_topk_matryoshka",
      // MRL truncation: exact top-k over the FIRST 32 of 64 components —
      // a pure slice (cosine renormalizes implicitly), halving memory
      // and dot-product cost in every downstream ANN path. Full oracle:
      // s01's brute-force SQL restricted to i ≤ 32.
      (s, dir) =>
        Similarity
          .topkBruteForce(Similarity.truncate(emb(s, dir), 32),
            queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      """WITH e AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
        |  FROM embeddings
        |), e32 AS (SELECT * FROM e WHERE i <= 32
        |), nrm AS (
        |  SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n
        |  FROM e32 GROUP BY 1
        |), dots AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nid,
        |         sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
        |  FROM e32 a JOIN e32 b ON a.i = b.i AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id IN (0, 1, 2, 3, 4)
        |  GROUP BY 1, 2
        |), ranked AS (
        |  SELECT qid, nid, dot / nq.n / nn.n AS cos,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY dot / nq.n / nn.n DESC, nid ASC) AS rank
        |  FROM dots JOIN nrm nq ON nq.vec_id = qid JOIN nrm nn ON nn.vec_id = nid)
        |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(cos, 4) AS cos
        |FROM ranked WHERE rank <= 5 ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "s02_sim_topk_ivf",
      // approximate (IVF nprobe search) → rows-only for the driver;
      // recall vs brute force asserted in ScalaTest.
      (s, dir) =>
        Similarity
          .topkIvf(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
            nlist = 16, nprobe = 4, index = Some(ivfIndexFor(s, dir, 16)))
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      None),

    QueryDef(
      "s03_embedding_quantize",
      // int8 max-abs quantization (the 4×-memory ANN path), exploded to
      // one row per component so the driver hash covers every code.
      // Explode-first: quantizing scalars AFTER posexplode keeps the
      // lambda work out of Generate's child projection, which re-evaluates
      // per OUTPUT row (measured 15× difference at sf0.1)
      (s, dir) => {
        val c = Similarity.corpus(emb(s, dir))
        val maxabs = aggregate(col("vec"), lit(0.0), (a, x) => greatest(a, abs(x)))
        c.withColumn("scale",
            when(maxabs === 0.0, lit(1.0)).otherwise(maxabs / lit(127.0)))
          .select(col("id"), col("scale"), posexplode(col("vec")).as(Seq("i", "x")))
          .select(col("id"), col("scale"), col("i"),
            round(col("x") / col("scale")).cast("int").as("q"))
          .orderBy("id", "i")
      },
      """WITH m AS (
        |  SELECT vec_id AS id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs,
        |    embedding
        |  FROM embeddings),
        |s AS (SELECT id, CASE WHEN maxabs = 0 THEN 1.0 ELSE maxabs / 127.0 END AS scale,
        |             embedding FROM m)
        |SELECT id, scale, CAST(i - 1 AS INTEGER) AS i,
        |  CAST(round(CAST(embedding[i] AS DOUBLE) / scale) AS INTEGER) AS q
        |FROM s, unnest(generate_series(1, len(embedding))) AS t(i)
        |ORDER BY 1, 3""".stripMargin
    ),
    QueryDef(
      "s04_sim_topk_quantized",
      // int8-prefilter + exact-rerank top-k — approximate (shortlist can
      // miss) → rows-only for the driver; recall vs brute force in tests
      (s, dir) =>
        Similarity
          .topkQuantized(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      None),
    QueryDef(
      "s05_sim_topk_pq",
      // product quantization: m-byte codes + per-query lookup tables
      // (asymmetric distance), exact rerank — approximate → rows-only;
      // recall vs brute force asserted in ScalaTest
      (s, dir) =>
        Similarity
          .topkPq(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
            index = Some(pqIndexFor(s, dir)))
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      None),
    QueryDef(
      "s06_sim_topk_ivfpq",
      // IVF×PQ: probe nprobe cells, rank members from m-byte codes,
      // exact rerank — the billion-scale composition; approximate →
      // rows-only, recall vs brute force in ScalaTest
      // residual=false so the memoized global-codebook index is reusable
      // (residual codebooks depend on the per-run centroids; the residual
      // path is exercised in ScalaTest)
      (s, dir) =>
        Similarity
          .topkIvfPq(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
            residual = false, index = Some(pqIndexFor(s, dir)),
            ivfIndex = Some(ivfIndexFor(s, dir, 16)))
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      None),

    // ---- exact-mode ANN gates ----------------------------------------
    // Exhaustive parameters (probe every cell / shortlist ⊇ corpus) make
    // each approximate pipeline structurally equal to brute force, so the
    // SAME code paths that run s02/s04/s05/s06 get a full DuckDB oracle.
    // Correctness-only: excluded from Bench (the perf-shaped variants
    // above are the benched ones).
    QueryDef(
      "s07_sim_topk_ivf_exact",
      // nprobe == nlist: every cell probed → IVF routing, probing and
      // per-cell ranking verified value-exact against the oracle
      (s, dir) =>
        Similarity
          .topkIvf(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
            nlist = 16, nprobe = 16, index = Some(ivfIndexFor(s, dir, 16)))
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      bruteTopkSql),
    QueryDef(
      "s08_sim_topk_pq_exact",
      // PQ search over the SAVED-then-RELOADED index with a shortlist
      // covering the whole corpus: codes/tables/rerank plumbing AND the
      // parquet persistence round-trip under the exact oracle
      (s, dir) =>
        Similarity
          .topkPq(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
            shortlistFactor = 200000, index = Some(persistedPqIndexFor(s, dir)))
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      bruteTopkSql),
    QueryDef(
      "s09_sim_topk_ivfpq_exact",
      // IVF×PQ with residual codebooks (the production default), every
      // cell probed, full-corpus shortlist → the residual decomposition
      // q·c + q·r and the cell-membership joins verified value-exact
      (s, dir) =>
        Similarity
          .topkIvfPq(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
            nlist = 16, nprobe = 16, shortlistFactor = 200000, residual = true,
            ivfIndex = Some(ivfIndexFor(s, dir, 16)))
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      bruteTopkSql),
    QueryDef(
      "s10_sim_topk_quantized_exact",
      // int8-prefilter with a full-corpus shortlist: quantize + integer
      // ranking + exact rerank verified value-exact
      (s, dir) =>
        Similarity
          .topkQuantized(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
            shortlistFactor = 200000)
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      bruteTopkSql),
    QueryDef(
      "s11_sim_topk_ivf_appended",
      // incremental index growth: centroids trained on the corpus split
      // only (vec_id % 5 != 0), the batch split appended WITHOUT
      // retraining via appendIvfIndex, search over the reloaded index
      // with every cell probed — assign/append/load plumbing verified
      // value-exact (a lost or mis-celled appended vector changes the
      // result)
      (s, dir) =>
        Similarity
          .topkIvf(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
            nlist = 8, nprobe = 8, index = Some(appendedIvfIndexFor(s, dir)))
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      bruteTopkSql),
    QueryDef(
      "s12_sim_topk_pq_appended",
      // PQ index grown without retraining: batch split encoded against
      // frozen codebooks, searched with an exhaustive shortlist — the
      // append/encode path value-gated like s11's IVF twin
      (s, dir) =>
        Similarity
          .topkPq(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
            shortlistFactor = 200000, index = Some(appendedPqIndexFor(s, dir)))
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      bruteTopkSql),
    QueryDef(
      "s13_sim_topk_ivf_compacted",
      // s11's grown index with the appended segment FOLDED into base
      // (compactIvfIndex) before the reload — every cell probed, so the
      // brute-force oracle gates the fold: a membership row lost or
      // doubled by compaction changes a neighbor or its rank
      (s, dir) =>
        Similarity
          .topkIvf(emb(s, dir), queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5,
            nlist = 8, nprobe = 8, index = Some(compactedIvfIndexFor(s, dir)))
          .select(col("qid"), col("rank"), col("nid"), round(col("cos"), 4).as("cos"))
          .orderBy("qid", "rank"),
      bruteTopkSql),
    QueryDef(
      "d07_corpus_pipeline",
      // the composite training-data pipeline: quality-filter → exact
      // dedup (keep the keeper) → per-source corpus stats — the shape a
      // 100 TB curation job takes, end to end in one plan
      (s, dir) => {
        val d = docs(s, dir)
        val scored = d.select(col("doc_id"), col("source"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("q"))
          .where(col("q") >= 0.5)
        val keepers = scored
          .groupBy("fp")
          .agg(min(col("doc_id")).as("doc_id"))
        scored.join(keepers, Seq("fp", "doc_id"), "left_semi")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("n_tokens"))
          .orderBy("source")
      },
      s"""WITH scored AS (
         |  SELECT doc_id, source, $fpSql AS fp,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INTEGER) AS n_tokens,
         |    (least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
         |      + least((CAST(len(regexp_extract_all(lower(text),
         |            '\\b(${TextAnalysis.StopEn.mkString("|")})\\b')) AS DOUBLE)
         |          / greatest(CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS DOUBLE), 1.0)) * 4.0, 1.0)
         |      + (1.0 - least((CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
         |          / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 5.0, 1.0))) / 3.0 AS q
         |  FROM documents
         |), filtered AS (SELECT * FROM scored WHERE q >= 0.5),
         |keepers AS (SELECT fp, min(doc_id) AS doc_id FROM filtered GROUP BY 1)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS n_tokens
         |FROM filtered JOIN keepers USING (fp, doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    ),

    // ---- multimodal ---------------------------------------------------
    QueryDef(
      "m01_multimodal_decode",
      (s, dir) => Multimodal.decodeDocs(s, docs(s, dir)).orderBy("id"),
      """SELECT doc_id AS id, 'image' AS kind,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
        |  CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER) AS height,
        |  CAST(1 + octet_length(encode(text)) % 8 AS INTEGER) AS n_frames
        |FROM documents ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "m05_media_phash",
      // average-hash perceptual signature over the payload bytes: 60
      // equal segments, bit s ⇔ segMean > globalMean by exact integer
      // cross-multiplication (no float means), positive-BIGINT range.
      // The oracle rebuilds every byte from the hex expansion (t06's
      // arithmetic) and assembles the same 60 bits.
      (s, dir) => {
        val sp = s
        import sp.implicits._
        Multimodal.payloadHash(Multimodal.asBlobs(docs(s, dir))).toDF()
          .orderBy("id")
      },
      """WITH bx AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
        |u AS (
        |  SELECT doc_id, i,
        |    strpos('123456789ABCDEF', substr(hx, i*2-1, 1)) * 16 +
        |    strpos('123456789ABCDEF', substr(hx, i*2, 1)) AS byte
        |  FROM bx, unnest(range(1, length(hx)//2 + 1)) AS t(i)),
        |l AS (SELECT doc_id, list(byte ORDER BY i) AS bs FROM u GROUP BY 1),
        |h AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(generate_series(0, 59), s ->
        |      CASE WHEN coalesce(list_sum(bs[(s*len(bs)//60)+1:((s+1)*len(bs)//60)]), 0)
        |             * len(bs)
        |           > list_sum(bs) * ((s+1)*len(bs)//60 - s*len(bs)//60)
        |           THEN 1::BIGINT << s ELSE 0 END)) AS phash
        |  FROM l)
        |SELECT doc_id AS id, CAST(coalesce(phash, 0) AS BIGINT) AS phash
        |FROM h ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "d56_media_neardup",
      // perceptual near-dup pairs: the payload aHash through the
      // pigeonhole Hamming machinery (6 chunks × 10 bits covers
      // maxDist 5 exactly). The fixture carries no natural pairs at
      // this radius, so planted one-byte clones (doc_id+100000, byte 21
      // swapped — exactly one segment mean moves) make the verdict
      // live, the d45 planted-clone precedent; the oracle hashes the
      // SAME enriched corpus and verifies all pairs by exact bit_count.
      (s, dir) => {
        val sp = s
        import sp.implicits._
        val base = docs(s, dir)
        val clones = base.where(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(substring(col("text"), 1, 20), lit("X"),
              substring(col("text"), 22, 1000000)).as("text"))
        val corpus = base.select("doc_id", "text").unionByName(clones)
        Dedup.hammingPairs(
            Multimodal.payloadHash(Multimodal.asBlobs(corpus)).toDF(),
            maxDist = 5, bits = 60, sigCol = "phash")
          .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
          .orderBy("a", "b")
      },
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000,
        |         substr(text, 1, 20) || 'X' || substr(text, 22)
        |  FROM documents WHERE doc_id % 50 = 0
        |), bx AS (SELECT doc_id, hex(encode(text)) AS hx FROM corpus),
        |u AS (
        |  SELECT doc_id, i,
        |    strpos('123456789ABCDEF', substr(hx, i*2-1, 1)) * 16 +
        |    strpos('123456789ABCDEF', substr(hx, i*2, 1)) AS byte
        |  FROM bx, unnest(range(1, length(hx)//2 + 1)) AS t(i)),
        |l AS (SELECT doc_id, list(byte ORDER BY i) AS bs FROM u GROUP BY 1),
        |h AS (
        |  SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(generate_series(0, 59), s ->
        |      CASE WHEN coalesce(list_sum(bs[(s*len(bs)//60)+1:((s+1)*len(bs)//60)]), 0)
        |             * len(bs)
        |           > list_sum(bs) * ((s+1)*len(bs)//60 - s*len(bs)//60)
        |           THEN 1::BIGINT << s ELSE 0 END)), 0) AS BIGINT) AS phash
        |  FROM l)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(bit_count(xor(x.phash, y.phash)) AS INTEGER) AS dist
        |FROM h x JOIN h y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.phash, y.phash)) <= 5
        |ORDER BY 1, 2""".stripMargin
    ),
    QueryDef(
      "m02_multimodal_resize",
      // resize planning: max-edge 224, aspect preserved, no upscale —
      // pure column arithmetic over the decoded metadata
      (s, dir) =>
        Multimodal.resizePlan(Multimodal.decodeDocs(s, docs(s, dir))).orderBy("id"),
      """WITH m AS (
        |  SELECT doc_id AS id,
        |    CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
        |    CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER) AS height
        |  FROM documents),
        |s AS (SELECT *, least(1.0, 224.0 / greatest(width, height)) AS scale FROM m)
        |SELECT id, width, height,
        |  CAST(greatest(1, floor(width * scale)) AS INTEGER) AS out_width,
        |  CAST(greatest(1, floor(height * scale)) AS INTEGER) AS out_height
        |FROM s ORDER BY 1""".stripMargin
    ),
    QueryDef(
      "m03_multimodal_framesample",
      // uniform frame sampling: stride = ceil(n_frames/4), frame rows
      // generated in place (no shuffle)
      (s, dir) =>
        Multimodal
          .sampleFrames(Multimodal.decodeDocs(s, docs(s, dir)))
          .orderBy("id", "frame_idx"),
      """WITH m AS (
        |  SELECT doc_id AS id,
        |    CAST(1 + octet_length(encode(text)) % 8 AS INTEGER) AS n_frames
        |  FROM documents)
        |SELECT id, n_frames, CAST(f AS INTEGER) AS frame_idx
        |FROM m, unnest(range(0, n_frames, CAST(ceil(n_frames / 4.0) AS INTEGER))) AS t(f)
        |ORDER BY 1, 3""".stripMargin
    ),
    QueryDef(
      "m04_multimodal_features",
      // per-byte feature extraction in typed mapPartitions; the oracle
      // re-derives byte values by expanding the blob's hex encoding
      // (strpos over '123456789ABCDEF' maps each hex digit to its value,
      // with 0 for both '0' and not-found — identical by construction)
      (s, dir) =>
        Multimodal.byteFeatures(Multimodal.asBlobs(docs(s, dir))).toDF().orderBy("id"),
      """WITH b AS (SELECT doc_id AS id, hex(encode(text)) AS h FROM documents),
        |u AS (
        |  SELECT id,
        |    strpos('123456789ABCDEF', substr(h, i*2-1, 1)) * 16 +
        |    strpos('123456789ABCDEF', substr(h, i*2, 1)) AS byte
        |  FROM b, unnest(range(1, length(h)//2 + 1)) AS t(i))
        |SELECT id, CAST(count(*) AS INTEGER) AS n_bytes,
        |  CAST(sum(byte) AS BIGINT) AS byte_sum,
        |  CAST(min(byte) AS INTEGER) AS byte_min,
        |  CAST(max(byte) AS INTEGER) AS byte_max,
        |  CAST(count(DISTINCT byte) AS INTEGER) AS n_distinct
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin
    )
  )
}
