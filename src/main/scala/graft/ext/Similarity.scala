package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Frames

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, scan the
  * corpus once — at 100 TB this is the exact-answer path and shuffles
  * nothing but the per-query top-k heap via window ranking).
  *
  * Scale path: IVF — partition the corpus by nearest coarse centroid;
  * queries probe only `nprobe` cells, cutting the scan by ~nlist/nprobe.
  */
object Similarity {

  /** Cosine similarity between two array<double> columns. Built on the
    * engine's native DotProduct expression (graft.functions) — same
    * left-to-right summation as the zip_with/aggregate form (bit-exact
    * swap) but a primitive codegen loop with no per-row allocation.
    */
  def cosine(a: Column, b: Column): Column =
    dotCol(a, b) / sqrt(dotCol(a, a)) / sqrt(dotCol(b, b))

  /** [[cosine]] with [[corpusNormalized]]'s zero-norm guard on both
    * divisors: a zero vector (an empty document's embedding — expected
    * input per the normalization contract) yields cosine 0 against
    * everything instead of an ANSI DIVIDE_BY_ZERO. Identical to
    * [[cosine]] for nonzero vectors (the guard only replaces a 0
    * divisor with 1), so oracle-exact paths may use it wherever zero
    * vectors are representable. The k-means assignment and the semantic
    * dedup family route through this.
    */
  def cosineSafe(a: Column, b: Column): Column = {
    def n(v: Column) = {
      val s = sqrt(dotCol(v, v))
      when(s === 0.0, lit(1.0)).otherwise(s)
    }
    dotCol(a, b) / n(a) / n(b)
  }

  /** The semantic-dedup family's pair similarity: unit-normalized
    * corpora pay ONE dot product per pair; raw corpora (the
    * oracle-exact mode) the guarded cosine. One definition point — the
    * three dedup call sites (batch, index, stream) must never drift on
    * this contract. Oracles restating it must mirror the zero-norm
    * guard (divide by 1, not 0) or a zero vector turns their division
    * into NaN, which DuckDB orders ABOVE every threshold.
    */
  def pairSim(normalized: Boolean, a: Column, b: Column): Column =
    if (normalized) dotCol(a, b) else cosineSafe(a, b)

  /** Corpus as (id, vec: array<double>) — float→double widened (exact). */
  def corpus(emb: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))

  /** Corpus with unit-normalized vectors: pairwise cosine degrades to a
    * single dot product. Normalizing is O(n·d) once; doing it per PAIR
    * (as naive cosine does) is O(pairs·d) extra — the dominant cost in
    * any blocked-pairs pipeline. Not for oracle-checked queries: the
    * divide-then-multiply order differs from plain cosine in the last
    * ulp; use where approximate blocking already owns the semantics.
    */
  def corpusNormalized(emb: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    corpus(emb, idCol, vecCol)
      // zero-norm guard (an all-zero embedding, e.g. an empty document):
      // divide by 1 so the vector stays zero instead of going NaN and
      // poisoning downstream kmeans/LSH aggregates — quantizeInt8's
      // maxabs guard, same reasoning
      .withColumn("nrm",
        when(sqrt(dotCol(col("vec"), col("vec"))) === 0.0, lit(1.0))
          .otherwise(sqrt(dotCol(col("vec"), col("vec")))))
      .select(col("id"), transform(col("vec"), x => x / col("nrm")).as("vec"))

  /** Plain dot product of two array<double> columns — the native
    * codegen'd expression.
    */
  def dotCol(a: Column, b: Column): Column =
    graft.functions.dot_product(a, b)

  /** Matryoshka truncation (Kusupati et al. 2022, MRL): keep the first
    * `dims` components — cosine re-normalizes implicitly, so truncation
    * is a pure slice, and memory/compute in every downstream ANN path
    * scale by dims/d. With MRL-trained embeddings recall degrades
    * gracefully; composes with any of the topk* searches.
    */
  def truncate(emb: DataFrame, dims: Int, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    emb.select(col(idCol), slice(col(vecCol), 1, dims).as(vecCol))

  /** Exact brute-force top-k: every query against every corpus vector,
    * ranked per query. Query side is broadcast; corpus side streams.
    */
  def topkBruteForce(emb: DataFrame, queryIds: Seq[Long], k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus(emb, idCol, vecCol)
    val q = c.where(col("id").isin(queryIds: _*))
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val scored = c.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), cosine(col("qvec"), col("vec")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  /** Deterministic random hyperplanes (seeded, fixed across runs/engines). */
  private[ext] def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucketing: bucket = bit pattern of sign(vec · plane_i).
    * Multi-table (`tables` independent plane sets, exploded as one
    * column) — single-table sign-LSH recall at moderate cosine is low
    * (≈(1-θ/π)^planes), so candidates are unioned across tables:
    * recall = 1-(1-p)^tables. Each row fans out `tables`× — still linear
    * in corpus size, never quadratic. Takes a prepared (id, vec) corpus
    * frame (e.g. normalized — signs are scale-invariant so buckets are
    * identical).
    */
  def bucketCorpus(c: DataFrame, planes: Int, tables: Int = 8,
                   dim: Int = 64,
                   planesOverride: Option[Seq[Array[Double]]] = None): DataFrame = {
    // planesOverride: injection hook for VALUE-GATING the bucketing
    // arithmetic (the d72b pinned-thresholds pattern) — axis-aligned
    // basis planes make bucket bits = component signs, which a SQL
    // oracle reproduces exactly. Production callers leave it None.
    val hp = planesOverride.getOrElse(hyperplanes(planes * tables, dim))
    require(hp.size >= planes * tables,
      s"planesOverride must supply planes*tables=${planes * tables} planes")
    val buckets = (0 until tables).map { t =>
      // planes=0 is the exact-mode degeneracy (one bucket per table →
      // blocking is structurally complete); fold keeps it well-defined
      (0 until planes)
        .map { i =>
          val planeCol = array(hp(t * planes + i).toIndexedSeq.map(lit): _*)
          when(dotCol(col("vec"), planeCol) > 0, lit(1L << i)).otherwise(lit(0L))
        }
        .foldLeft(lit(0L))(_ + _) + lit(t.toLong << planes) // disjoint bucket spaces per table
    }
    c.withColumn("bucket", explode(array(buckets: _*)))
  }

  /** Int8 max-abs quantization — the memory-bound scale path for ANN: a
    * float32 corpus shrinks 4× (100 TB → 25 TB resident), at the cost of
    * bounded per-component error ≤ scale/2. Pure column arithmetic
    * (transform/aggregate — codegen'd, no UDF): per-vector
    * scale = max|x|/127, q_i = round(x_i/scale) ∈ [-127, 127].
    * Output: (id, scale, qvec: array<int>).
    */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val c = corpus(emb, idCol, vecCol)
    val maxabs = aggregate(col("vec"), lit(0.0), (acc, x) => greatest(acc, abs(x)))
    c.withColumn("scale",
        when(maxabs === 0.0, lit(1.0)).otherwise(maxabs / lit(127.0)))
      .select(col("id"), col("scale"),
        transform(col("vec"), x => round(x / col("scale")).cast("int")).as("qvec"))
  }

  /** Quantized-prefilter top-k: rank every candidate by the INT dot
    * product of int8 codes (4× less memory traffic than the float scan),
    * keep a per-query shortlist, then rerank only the shortlist with
    * exact double cosine. Approximate overall (the shortlist can miss),
    * recall measured in tests; shortlist ≥ 4k makes misses rare because
    * quantization preserves ranking to within the code error.
    */
  def topkQuantized(emb: DataFrame, queryIds: Seq[Long], k: Int,
                    shortlistFactor: Int = 4,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus(emb, idCol, vecCol)
    val quant = quantizeInt8(emb, idCol, vecCol)
    val qq = quant.where(col("id").isin(queryIds: _*))
      .select(col("id").as("qid"), col("scale").as("qscale"), col("qvec").as("qqvec"))
    // integer dot of the codes; × both scales ≈ the float dot
    val qdot = aggregate(
      zip_with(col("qqvec"), col("qvec"), (x, y) => x * y), lit(0L),
      (acc, v) => acc + v)
    val approx = quant.join(broadcast(qq), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"),
        (qdot.cast("double") * col("scale") * col("qscale")).as("adot"))
    val wa = Window.partitionBy("qid").orderBy(col("adot").desc, col("nid").asc)
    val shortlist = approx
      .withColumn("arank", row_number().over(wa))
      .where(col("arank") <= k * shortlistFactor)
      .select("qid", "nid")
    // exact rerank on the shortlist only — shortlist side broadcast so
    // the float corpus streams (never the build side at 100 TB)
    val qv = c.where(col("id").isin(queryIds: _*))
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    broadcast(shortlist.join(broadcast(qv), "qid"))
      .join(c.select(col("id").as("nid"), col("vec")), "nid")
      .select(col("qid"), col("nid"), cosine(col("qvec"), col("vec")).as("cos"))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }

  // ---- product quantization ------------------------------------------

  /** Per-row code assignment against a per-SEGMENT codebook array:
    * cands = array<struct<cid, cvec, cn>> sorted by cid; returns
    * argmin_cid(−2·sub·c + ‖c‖²) with ties to the smallest cid —
    * bit-identical to the former `min_by(cid, struct(d2, cid))`
    * spelling (same d2 arithmetic per candidate; ascending-cid fold
    * with strict `<` keeps the first minimum; an all-NaN row keeps the
    * first cid, matching NaN-sorts-greatest), but WITHOUT the ×k join
    * blowup and regroup shuffle that spelling paid: the broadcast join
    * stays 1:1 per (id, seg) row and the argmin runs inside the row's
    * codegen stage — literally, since r15: [[graft.functions.PqArgmin]]
    * generates one allocation-free primitive loop, replacing the
    * interpreted `aggregate` fold (kept below as
    * [[argminCidInterpreted]] purely as the parity-test reference). At
    * corpus scale that deletes a corpus×codes exchange from every
    * encode and every Lloyd iteration, and the codegen loop removes the
    * per-(row × candidate) lambda-interpretation overhead on top.
    */
  private def argminCid(sub: Column, cands: Column): Column =
    graft.functions.pq_argmin(sub, cands)

  /** The pre-r15 interpreted spelling of [[argminCid]], retained as the
    * reference half of the ExtSpec expression-vs-fold parity test (the
    * codegen expression must match it bit-for-bit on the fixture).
    * `cands` structs carry the precomputed ‖cvec‖² as `cn` — the same
    * double [[graft.functions.DotProduct]] would produce per row, so
    * using it here keeps the reference arithmetic identical.
    */
  private[ext] def argminCidInterpreted(sub: Column, cands: Column): Column =
    aggregate(cands,
      struct(lit(Double.PositiveInfinity).as("d2"),
        element_at(cands, 1).getField("cid").as("cid")),
      (acc, cand) => {
        val cvec = cand.getField("cvec")
        val d2 = (lit(-2.0) * dotCol(sub, cvec)) + cand.getField("cn")
        when(d2 < acc.getField("d2"),
          struct(d2.as("d2"), cand.getField("cid").as("cid")))
          .otherwise(acc)
      }).getField("cid")

  /** (seg, cid, cvec) rows → one row per seg with the cid-sorted
    * candidate array [[argminCid]] folds over. ‖cvec‖² is precomputed
    * HERE (`cn`, via the same codegen'd [[dotCol]] loop the per-row
    * fold used, so the double is bit-identical) — once per codebook row
    * instead of once per corpus row per candidate, which halved the
    * encode scan's per-row FLOPs.
    */
  private[ext] def segBooks(codebooks: DataFrame): DataFrame =
    codebooks.groupBy("seg")
      .agg(sort_array(collect_list(struct(col("cid"), col("cvec"),
          dotCol(col("cvec"), col("cvec")).as("cn"))))
        .as("cands"))

  /** Per-segment PQ codebooks trained with deterministic seeding (the k
    * lowest-id sub-vectors) plus `iters` Lloyd steps: assign every
    * (id, segment) sub-vector to its nearest code by L2, recompute code
    * centroids as per-dimension means.
    *
    * Scale-adaptive, the [[Dedup.connectedComponents]] pattern: a
    * training corpus within `driverThreshold` doubles (n·dim) is solved
    * locally on the driver — ONE collect, then `iters` in-memory Lloyd
    * rounds — because the distributed loop's fixed cadence (per round:
    * one broadcast build, one shuffle for the means, one collect) costs
    * ~8 job rounds regardless of data size, which dominates training
    * end-to-end until the corpus is orders of magnitude past fixture
    * scale. Past the threshold the distributed loop below runs
    * unchanged (forced in tests via driverThreshold = 0); only
    * m×k×subDim doubles ever reach the driver per round there. The two
    * paths share seeding (k lowest ids, densely re-labelled),
    * assignment arithmetic (d2 = −2·sub·c + ‖c‖², ascending-cid fold,
    * strict <) and empty-code handling (a code with no members drops
    * out of the book); their means may differ in the last ulp only
    * (summation order — the distributed avg sums in partition order,
    * which already varies with the core count, so no oracle may depend
    * on codebook LSBs; the exact-mode gates rerank a full-corpus
    * shortlist precisely so they don't).
    *
    * @return (seg, cid, cvec) — m×k rows
    */
  def pqCodebooks(c: DataFrame, m: Int, k: Int, iters: Int = 8,
                  driverThreshold: Long = 4000000L): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val dim = c.select(size(col("vec"))).head().getInt(0)
    require(dim % m == 0, s"$m segments do not divide dim $dim")
    // bounded threshold probe: limit(n+1).count() short-circuits after
    // n+1 rows (CollectLimit scans partitions incrementally), so the
    // at-scale path never pays a full corpus pass just to learn it is
    // over the bound — a plain count() here would have paid a full
    // corpus scan before every training run
    val maxRows = driverThreshold / math.max(dim, 1)
    val probe = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
    if (driverThreshold > 0 && c.limit(probe).count() <= maxRows)
      return pqCodebooksLocal(c, m, k, iters, dim)
    val subd = dim / m
    Frames.scoped { frames =>
      val subs = frames.hold(c.select(col("id"),
        posexplode(array((0 until m).map(s =>
          slice(col("vec"), s * subd + 1, subd)): _*)).as(Seq("seg", "sub"))).cache())
      // seed from the k lowest ids (NOT `id < k`: ids may be offset or
      // sparse), re-labelled densely 0..k-1 as code ids
      val seedIds = c.select(col("id")).orderBy("id").limit(k)
        .as[Long].collect()
      val idToCid = seedIds.zipWithIndex.toMap
      var books: Seq[(Int, Int, Seq[Double])] = subs
        .where(col("id").isin(seedIds: _*)).orderBy("id", "seg")
        .collect()
        .map(r => (r.getInt(1), idToCid(r.getLong(0)), r.getSeq[Double](2)))
      (0 until iters).foreach { _ =>
        // per-row argmin against the per-seg codebook array (see
        // argminCid): assignment carries `sub` through, so the means
        // recompute needs NO rejoin — one shuffle per iteration (the
        // means groupBy), down from three
        val bdf = segBooks(books.toDF("seg", "cid", "cvec"))
        val assigned = subs.join(broadcast(bdf), Seq("seg"))
          .select(col("seg"), col("sub"),
            argminCid(col("sub"), col("cands")).as("cid"))
        books = assigned
          .select(col("seg"), col("cid"), posexplode(col("sub")).as(Seq("pos", "x")))
          .groupBy("seg", "cid", "pos")
          .agg(avg(col("x")).as("x"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case ((seg, cid), rows) =>
            (seg, cid, rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
          }
          .toSeq.sortBy(b => (b._1, b._2))
      }
      books.toDF("seg", "cid", "cvec")
    }
  }

  /** Driver-side Lloyd for [[pqCodebooks]]' small-corpus regime: same
    * seeding, same per-candidate d2 arithmetic in the same fold order as
    * [[argminCid]] (left-to-right dot products, −2·dot + ‖c‖², strict <
    * over ascending cid, so assignments are bit-identical given equal
    * books), means summed in ascending-id order (deterministic across
    * core counts, which the distributed partition-order sum is not).
    */
  private def pqCodebooksLocal(c: DataFrame, m: Int, k: Int, iters: Int,
                               dim: Int): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val subd = dim / m
    val rows = c.select(col("id"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def dot(a: Array[Double], ao: Int, b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < b.length) { s += a(ao + i) * b(i); i += 1 }
      s
    }
    // seed: the k lowest ids, re-labelled densely 0..k-1 as code ids;
    // books(seg) = (cid, cvec, ‖cvec‖²) ascending by cid
    var books: Array[Array[(Int, Array[Double])]] =
      Array.tabulate(m)(seg => rows.take(k).zipWithIndex.map {
        case ((_, vec), cid) => (cid, vec.slice(seg * subd, (seg + 1) * subd))
      })
    (0 until iters).foreach { _ =>
      val sums = Array.fill(m)(
        scala.collection.mutable.HashMap.empty[Int, (Array[Double], Long)])
      val cdots = books.map(_.map { case (cid, cv) => (cid, dot(cv, 0, cv)) })
      rows.foreach { case (_, vec) =>
        var seg = 0
        while (seg < m) {
          val cands = books(seg)
          // argminCid's fold verbatim: init (+∞, first cid), strict <
          var bestD2 = Double.PositiveInfinity
          var bestCid = cands(0)._1
          var j = 0
          while (j < cands.length) {
            val d2 = -2.0 * dot(vec, seg * subd, cands(j)._2) + cdots(seg)(j)._2
            if (d2 < bestD2) { bestD2 = d2; bestCid = cands(j)._1 }
            j += 1
          }
          val (acc, n) = sums(seg).getOrElseUpdate(bestCid,
            (new Array[Double](subd), 0L))
          var p = 0
          while (p < subd) { acc(p) += vec(seg * subd + p); p += 1 }
          sums(seg)(bestCid) = (acc, n + 1)
          seg += 1
        }
      }
      // empty codes drop out, exactly like the distributed groupBy
      books = Array.tabulate(m)(seg => sums(seg).toArray.sortBy(_._1).map {
        case (cid, (acc, n)) => (cid, acc.map(_ / n))
      })
    }
    books.zipWithIndex.flatMap { case (bs, seg) =>
      bs.map { case (cid, cv) => (seg, cid, cv.toSeq) }
    }.toSeq.toDF("seg", "cid", "cvec")
  }

  /** PQ-encode the corpus: (id, seg, code) — the m-byte sketch, 32×
    * smaller than float32 at m=8. Kept exploded (one row per segment) so
    * the search join below stays a plain equi-join. An input `cell`
    * column (IVF membership) is carried through, so an IVF×PQ index is
    * ONE table — searches probe it directly with no corpus-sized
    * membership join.
    */
  def pqEncode(c: DataFrame, codebooks: DataFrame, m: Int): DataFrame = {
    val dim = c.select(size(col("vec"))).head().getInt(0)
    val subd = dim / m
    val carry = c.columns.filter(_ == "cell").toSeq.map(col)
    val subs = c.select(col("id") +: carry :+
      posexplode(array((0 until m).map(s =>
        slice(col("vec"), s * subd + 1, subd)): _*)).as(Seq("seg", "sub")): _*)
    // pure map over the corpus: the per-seg broadcast join is 1:1 and
    // the code argmin runs in-row (argminCid) — the former ×codes join
    // blowup + corpus-sized regroup shuffle is gone, which at 100 TB is
    // the difference between encoding in one scan and shuffling
    // 256× the corpus
    subs.join(broadcast(segBooks(codebooks)), Seq("seg"))
      .select(col("id") +: carry :+ col("seg") :+
        argminCid(col("sub"), col("cands")).as("code"): _*)
  }

  /** Build the PQ index once: codebooks + encoded corpus (cached). The
    * index is the precomputed artifact every query reuses — training
    * per query would be like rebuilding a B-tree per lookup.
    */
  def pqIndex(emb: DataFrame, m: Int = 8, codes: Int = 256,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    // train and encode over UNIT-NORMALIZED vectors: the search ranks
    // its shortlist by approximate dot product while the final metric is
    // cosine, so an unnormalized index lets large-norm corpus vectors
    // crowd out true neighbors no matter how fine the codebooks are
    // (measured: recall@10 0.87 -> >=0.9 at slf=8). The exact rerank
    // reads the RAW vectors, so exact-mode results are unchanged.
    Frames.scoped { frames =>
      val c = frames.hold(corpusNormalized(emb, idCol, vecCol).cache())
      val books = pqCodebooks(c, m, codes)
      val encoded = pqEncode(c, books, m).cache()
      encoded.count() // materialize while the corpus cache is alive
      (books, encoded)
    }
  }

  /** PQ top-k (asymmetric distance): approx dot(q, x) = Σ_seg
    * table(q, seg, code(x, seg)) where the per-query lookup tables are
    * q_seg·c dot products — |queries|×m×k tiny rows broadcast into one
    * equi-join against the encoded corpus; exact rerank on the shortlist.
    * The corpus-sized scan touches only the m-byte codes (the
    * memory-bound path at 100 TB); floats are read for the shortlist only.
    *
    * @param index a prebuilt `pqIndex` to reuse; trained ad hoc if absent
    */
  def topkPq(emb: DataFrame, queryIds: Seq[Long], k: Int, m: Int = 8,
             codes: Int = 256, shortlistFactor: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding",
             index: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    Frames.scoped { frames =>
      val c = frames.hold(corpus(emb, idCol, vecCol).cache())
      val (books, encoded) = index.getOrElse {
        // ad-hoc index: same normalized-space training as [[pqIndex]]
        val cn = corpusNormalized(emb, idCol, vecCol)
        val b = pqCodebooks(cn, m, codes)
        (b, pqEncode(cn, b, m))
      }
      val dim = c.select(size(col("vec"))).head().getInt(0)
      val subd = dim / m
      // per-query lookup tables, computed on the driver from tiny inputs
      val qvecs = c.where(col("id").isin(queryIds: _*))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val bookArr = books.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      val tables = for {
        (qid, qv) <- qvecs.toSeq
        ((seg, cid), cv) <- bookArr.toSeq
      } yield (qid, seg, cid,
        (0 until subd).map(j => qv(seg * subd + j) * cv(j)).sum)
      val tdf = tables.toDF("qid", "seg", "code", "t")
      val approx = encoded.join(broadcast(tdf), Seq("seg", "code"))
        .where(col("id") =!= col("qid"))
        .groupBy("qid", "id")
        .agg(sum(col("t")).as("adot"))
      val wa = Window.partitionBy("qid").orderBy(col("adot").desc, col("id").asc)
      val shortlist = approx
        .withColumn("arank", row_number().over(wa))
        .where(col("arank") <= k * shortlistFactor)
        .select(col("qid"), col("id").as("nid"))
      val qv = c.where(col("id").isin(queryIds: _*))
        .select(col("id").as("qid"), col("vec").as("qvec"))
      val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
      // broadcast the SHORTLIST side of the rerank join: the corpus
      // streams (at 100 TB it can never be the build side; without the
      // hint Spark's size estimates pick it at test scale and would flip
      // to a full corpus shuffle at real scale)
      broadcast(shortlist.join(broadcast(qv), "qid"))
        .join(c.select(col("id").as("nid"), col("vec")), "nid")
        .select(col("qid"), col("nid"), cosine(col("qvec"), col("vec")).as("cos"))
        .withColumn("rank", row_number().over(wr))
        .where(col("rank") <= k)
        .select(col("qid"), col("rank"), col("nid"), col("cos"))
    }
  }

  /** IVF×PQ: the standard billion-scale composition — IVF probing cuts
    * the candidate set to `nprobe`/`nlist` of the corpus, PQ lookup
    * tables rank those candidates touching only their m-byte codes, and
    * the float vectors are read for the exact-rerank shortlist alone.
    * At 100 TB: per query ≈ (corpus/nlist)·nprobe code rows scanned,
    * k·shortlistFactor full vectors read.
    */
  def topkIvfPq(emb: DataFrame, queryIds: Seq[Long], k: Int,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 8, codes: Int = 256,
                shortlistFactor: Int = 8, residual: Boolean = true,
                idCol: String = "vec_id", vecCol: String = "embedding",
                index: Option[(DataFrame, DataFrame)] = None,
                ivfIndex: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    Frames.scoped { frames =>
      val c = frames.hold(corpus(emb, idCol, vecCol).cache())
      val (cents, assigned) = ivfIndex match {
        case Some((ce, membership)) =>
          // no cache: the prebuilt index frames are the caller's to manage
          (ce,
            c.join(membership.select("id", "cell"), "id")
              .select(col("id"), col("vec"), col("cell")))
        case None =>
          val ce = frames.hold(ivfCentroids(c, nlist).cache())
          (ce, frames.hold(assignToNearest(c, ce).cache()))
      }
      val membership = assigned.select("id", "cell")
      // Residual PQ (the FAISS-style default): codebooks quantize
      // vec − centroid(cell), so codes spend their bits on the
      // cell-LOCAL variance the coarse quantizer already removed.
      // Exact decomposition dot(q,x) = q·c_cell + q·residual — the
      // first term is per-(query, probed cell) and free; only the
      // second goes through the lookup tables.
      // Both paths keep `cell` on the PQ input, so the trained index is
      // ONE (id, cell, seg, code) table and the search below probes it
      // without a corpus-sized membership join.
      // non-residual path: normalized PQ space, matching [[pqIndex]]
      // (cosine-consistent shortlist ranking); residuals stay raw — their
      // geometry is cell-local and the q·c_cell correction is exact
      val pqInput =
        if (!residual) assigned
          // zero-norm guard: see [[corpusNormalized]]
          .withColumn("nrm",
            when(sqrt(dotCol(col("vec"), col("vec"))) === 0.0, lit(1.0))
              .otherwise(sqrt(dotCol(col("vec"), col("vec")))))
          .select(col("id"), col("cell"),
            transform(col("vec"), x => x / col("nrm")).as("vec"))
        else assigned
          .join(broadcast(cents), col("cell") === col("cid"))
          .select(col("id"), col("cell"),
            zip_with(col("vec"), col("cvec"), (a, b) => a - b).as("vec"))
      val (books, encoded) = index.filter(_ => !residual).getOrElse {
        val b = pqCodebooks(pqInput, m, codes)
        (b, pqEncode(pqInput, b, m))
      }
      val dim = c.select(size(col("vec"))).head().getInt(0)
      val subd = dim / m

      // nearest nprobe cells per query, carrying q·c_cell for the
      // residual correction (tiny: |q| × nlist)
      val q = c.where(col("id").isin(queryIds: _*))
        .select(col("id").as("qid"), col("vec").as("qvec"))
      val wq = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
      val probes = q.crossJoin(broadcast(cents))
        .select(col("qid"), col("cid"),
          cosine(col("qvec"), col("cvec")).as("cos"),
          dotCol(col("qvec"), col("cvec")).as("qdotc"))
        .withColumn("rn", row_number().over(wq))
        .where(col("rn") <= nprobe)
        .select(col("qid"), col("cid").as("cell"),
          (if (residual) col("qdotc") else lit(0.0)).as("qdotc"))

      // per-query PQ lookup tables (driver-computed from tiny inputs)
      val qvecs = q.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val bookArr = books.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      val tables = for {
        (qid, qv) <- qvecs.toSeq
        ((seg, cid), cv) <- bookArr.toSeq
      } yield (qid, seg, cid,
        (0 until subd).map(j => qv(seg * subd + j) * cv(j)).sum)
      val tdf = tables.toDF("qid", "seg", "code", "t")

      // candidates = members of probed cells, ranked from codes alone:
      // cell-carrying indexes are probed directly (broadcast join on the
      // tiny probe set — a single scan of the code table, no shuffle); a
      // prebuilt global-PQ index without cell falls back to the
      // membership join
      val candidates =
        if (encoded.columns.contains("cell")) encoded
        else encoded.join(membership, "id")
      val approx = candidates
        .join(broadcast(probes), Seq("cell"))
        .where(col("id") =!= col("qid"))
        .join(broadcast(tdf), Seq("qid", "seg", "code"))
        .groupBy("qid", "id")
        .agg((sum(col("t")) + first(col("qdotc"))).as("adot"))
      val wa = Window.partitionBy("qid").orderBy(col("adot").desc, col("id").asc)
      val shortlist = approx
        .withColumn("arank", row_number().over(wa))
        .where(col("arank") <= k * shortlistFactor)
        .select(col("qid"), col("id").as("nid"))

      // shortlist side broadcast: the float corpus streams in the rerank
      val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
      broadcast(shortlist.join(broadcast(q), "qid"))
        .join(c.select(col("id").as("nid"), col("vec")), "nid")
        .select(col("qid"), col("nid"), cosine(col("qvec"), col("vec")).as("cos"))
        .withColumn("rank", row_number().over(wr))
        .where(col("rank") <= k)
        .select(col("qid"), col("rank"), col("nid"), col("cos"))
    }
  }

  /** IVF coarse centroids: deterministic seed sample (nlist lowest ids)
    * refined by one Lloyd step — assign all vectors to their nearest
    * seed, then each cell's centroid becomes the mean of its members.
    *
    * Scale-adaptive like [[pqCodebooks]]: a training corpus within
    * `driverThreshold` doubles (n·dim) is solved on the driver — one
    * collect, assignment + means in-memory — with member sums taken in
    * ASCENDING-ID order, which is deterministic across core counts
    * (the distributed avg sums in partition order, which varies with
    * parallelism — a latent hazard for any consumer of centroid LSBs;
    * on the deterministic fixtures both orders sum exactly, so the
    * hash-gated IVF oracles d23–d25 / s07 / s11 / s13 pin that this
    * path changes nothing). Past the threshold the distributed step
    * runs unchanged (one assignment pass, a (cell, dim)-grouped
    * aggregation; only nlist×dim rows reach the driver) — forced in
    * tests via driverThreshold = 0.
    */
  def ivfCentroids(c: DataFrame, nlist: Int,
                   driverThreshold: Long = 4000000L): DataFrame = {
    val spark = c.sparkSession
    if (driverThreshold > 0) {
      // bounded probes, the pqCodebooks pattern: one-row dim peek, then
      // limit(n+1).count() short-circuits after n+1 rows — the at-scale
      // path never pays a full corpus pass just to learn it is over
      val dim = c.select(size(col("vec"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1)
      val maxRows = driverThreshold / math.max(dim, 1)
      val probe = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
      if (c.limit(probe).count() <= maxRows)
        return ivfCentroidsLocal(c, nlist)
    }
    val seeds = c.orderBy("id").limit(nlist)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val assigned = assignToNearest(c, seeds)
    val meanByDim = assigned
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(avg(col("x")).as("x"))
      .collect()
      .groupBy(_.getLong(0))
      .map {
        case (cell, rows) =>
          (cell, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }
      .toSeq
      .sortBy(_._1)
    import spark.implicits._
    meanByDim.toDF("cid", "cvec")
  }

  /** Driver-side [[ivfCentroids]] for the small-corpus regime: same
    * seeding (nlist lowest ids, cid = id), same per-candidate cosine
    * arithmetic in the same operation order as [[assignToNearest]]'s
    * `cosineSafe` + `max_by(struct(cid, vec), struct(cos, -cid))` —
    * dots left-to-right, `(a·b / ‖a‖guard) / ‖b‖guard`, candidates
    * scanned ascending cid with strict greater-than (ties and the
    * all-NaN row to the lowest cid, `java.lang.Double.compare` ordering
    * NaN greatest exactly like Spark's double ordering) — so
    * assignments are identical given equal seeds; means summed in
    * ascending-id order.
    */
  private def ivfCentroidsLocal(c: DataFrame, nlist: Int): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val rows = c.select(col("id"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i) * b(i); i += 1 }
      s
    }
    def normGuard(v: Array[Double]): Double = {
      val n = math.sqrt(dot(v, v))
      if (n == 0.0) 1.0 else n
    }
    val seeds = rows.take(nlist)
    val seedNorms = seeds.map { case (_, v) => normGuard(v) }
    // per cell: dim sums and per-dim counts, sized by the cell's longest
    // vector — a ragged cell averages each dim over the vectors that
    // have it, exactly like the distributed per-(cell, pos) avg
    val sums = scala.collection.mutable.LinkedHashMap
      .empty[Long, (Array[Double], Array[Long])]
    rows.foreach { case (_, vec) =>
      val nv = normGuard(vec)
      // cosineSafe's exact op order: (a·b / n(a)) / n(b), a = the vector
      var bestIdx = 0
      var bestCos = dot(vec, seeds(0)._2) / nv / seedNorms(0)
      var j = 1
      while (j < seeds.length) {
        val cos = dot(vec, seeds(j)._2) / nv / seedNorms(j)
        if (java.lang.Double.compare(cos, bestCos) > 0) {
          bestCos = cos; bestIdx = j
        }
        j += 1
      }
      val cell = seeds(bestIdx)._1
      val (acc0, n0) =
        sums.getOrElse(cell, (Array.emptyDoubleArray, Array.emptyLongArray))
      val (acc, n) =
        if (acc0.length >= vec.length) (acc0, n0)
        else (java.util.Arrays.copyOf(acc0, vec.length),
          java.util.Arrays.copyOf(n0, vec.length))
      var p = 0
      while (p < vec.length) { acc(p) += vec(p); n(p) += 1; p += 1 }
      sums(cell) = (acc, n)
    }
    // empty cells (and cells of empty vectors) drop out, exactly like
    // the distributed groupBy over exploded dims
    sums.toSeq.sortBy(_._1).collect { case (cell, (acc, n)) if acc.nonEmpty =>
      (cell, acc.zip(n).map { case (s, c) => s / c }.toSeq)
    }.toDF("cid", "cvec")
  }

  /** IVF index: every vector assigned to its nearest refined centroid. */
  def ivfAssign(emb: DataFrame, nlist: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus(emb, idCol, vecCol)
    assignToNearest(c, ivfCentroids(c, nlist))
  }

  /** Cell membership (id, cell) for PREBUILT centroids — index builders
    * that already trained `cents` use this instead of ivfAssign (which
    * would re-train).
    */
  def ivfMembership(c: DataFrame, cents: DataFrame): DataFrame =
    assignToNearest(c, cents).select("id", "cell")

  private[ext] def assignToNearest(c: DataFrame, cents: DataFrame): DataFrame = {
    // cosineSafe: a zero-norm vector ties at cos 0 everywhere and lands
    // deterministically in the lowest cell instead of throwing (ANSI).
    // Argmax per id as a partial-aggregable max_by with ordering
    // (cos, -cid) — max cos, ties to the LOWEST cid: identical to the
    // previous row_number-over-window result, but the n×nlist scored
    // rows (vectors included) collapse map-side to n aggregation
    // buffers before the exchange; the window spelling shuffled and
    // sorted all n×nlist of them, which at SemDeDup-scale nlist
    // (~0.1%·n cells) is quadratic shuffle volume. NaN ties match too:
    // Spark orders NaN greatest both in DESC-first windows and max_by.
    c.join(broadcast(cents), col("id") =!= lit(-1L))
      .select(col("id"), col("vec"), col("cid"),
        cosineSafe(col("vec"), col("cvec")).as("cos"))
      .groupBy("id")
      .agg(max_by(struct(col("cid"), col("vec")),
        struct(col("cos"), (-col("cid")).as("nc"))).as("b"))
      .select(col("id"), col("b.vec").as("vec"), col("b.cid").as("cell"))
  }

  // ---- index persistence ---------------------------------------------

  /** Persist a PQ index (codebooks + encoded corpus) as parquet tables —
    * the build-once/search-many artifact. Codebooks are tiny (m×k rows,
    * single file); codes are corpus×m rows of (id, seg, code) — at 100 TB
    * co-bucket them with the corpus on `id` so the shortlist-rerank join
    * stays co-located.
    */
  def savePqIndex(path: String, books: DataFrame, codes: DataFrame): Unit = {
    books.coalesce(1).write.mode("overwrite").parquet(s"$path/pq_books")
    // ixseg, not seg: code rows already carry the vector-segment column
    codes.write.mode("overwrite").parquet(s"$path/pq_codes/ixseg=base")
  }

  /** Append new vectors to a persisted PQ index WITHOUT retraining:
    * encode them against the frozen codebooks (in the same
    * unit-normalized space [[pqIndex]] trains in) and land the code
    * rows as segment `ixseg` — overwrite-per-segment, so replays are
    * idempotent (the [[appendIvfIndex]] contract). Quantization error
    * for appended vectors grows only with distribution drift from the
    * training corpus; rebuild codebooks when recall sags.
    */
  def appendPqIndex(path: String, newEmb: DataFrame, ixseg: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val spark = newEmb.sparkSession
    val books = spark.read.parquet(s"$path/pq_books")
    val m = books.agg(countDistinct(col("seg"))).head().getLong(0).toInt
    Frames.scoped { frames =>
      val c = frames.hold(corpusNormalized(newEmb, idCol, vecCol).cache())
      pqEncode(c, books, m)
        .write.mode("overwrite").parquet(s"$path/pq_codes/ixseg=$ixseg")
    }
    SegmentedTable.refreshParent(spark, s"$path/pq_codes")
  }

  /** @return (books, codes) frames reading the persisted index. */
  def loadPqIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/pq_books"),
      spark.read.parquet(s"$path/pq_codes").select("id", "seg", "code"))

  /** Persist an IVF index: coarse centroids (nlist rows, single file) and
    * the corpus cell membership (id, cell). Vectors are NOT duplicated —
    * search re-joins membership against the corpus table. Membership is
    * segment-partitioned (`seg=base` here, one segment per
    * [[appendIvfIndex]] call after) so the index GROWS without rewrites.
    */
  def saveIvfIndex(path: String, cents: DataFrame, membership: DataFrame): Unit = {
    cents.coalesce(1).write.mode("overwrite").parquet(s"$path/ivf_cents")
    membership.select(col("id"), col("cell"))
      .write.mode("overwrite").parquet(s"$path/ivf_membership/seg=base")
  }

  /** Append new vectors to a persisted IVF index WITHOUT retraining —
    * the FAISS add-after-train contract: centroids froze at build time,
    * an addition only assigns each new vector to its nearest centroid
    * and lands the (id, cell) rows as membership segment `seg`.
    * Overwrite-per-segment makes a replayed append idempotent (the
    * [[MinHashIndex]] precedent), so a streaming embedding feed can
    * foreachBatch this with seg=b<batchId>. Centroid quality degrades
    * only as far as new data drifts from the training distribution —
    * watch per-cell counts on the membership table and rebuild when
    * skewed.
    */
  def appendIvfIndex(path: String, newEmb: DataFrame, seg: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    val cents = newEmb.sparkSession.read.parquet(s"$path/ivf_cents")
    ivfMembership(corpus(newEmb, idCol, vecCol), cents)
      .select(col("id"), col("cell"))
      .write.mode("overwrite").parquet(s"$path/ivf_membership/seg=$seg")
    SegmentedTable.refreshParent(newEmb.sparkSession, s"$path/ivf_membership")
  }

  /** @return (centroids, membership) frames reading the persisted index. */
  def loadIvfIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/ivf_cents"),
      spark.read.parquet(s"$path/ivf_membership").select("id", "cell"))

  /** Fold appended membership segments into `seg=base` — bounds the
    * index's partition/file count by compaction cadence instead of
    * append count (the [[MinHashIndex.compact]] contract: rows preserved
    * verbatim, so search results are identical before/after; run
    * quiesced; never fold a segment a replay could target).
    *
    * @return segment names actually folded
    */
  def compactIvfIndex(spark: SparkSession, path: String,
                      folds: Seq[String]): Seq[String] =
    SegmentedTable.compact(spark, s"$path/ivf_membership", "seg", "base",
      folds, Seq("id", "cell"))

  /** PQ twin of [[compactIvfIndex]]: fold appended `ixseg=` code
    * segments into `ixseg=base` (the data columns keep `seg` — the PQ
    * sub-vector index — which is why code segments partition on a
    * differently-named column).
    */
  def compactPqIndex(spark: SparkSession, path: String,
                     folds: Seq[String]): Seq[String] =
    SegmentedTable.compact(spark, s"$path/pq_codes", "ixseg", "base",
      folds, Seq("id", "seg", "code"))

  /** IVF top-k: probe the `nprobe` cells nearest to each query, exact
    * cosine within probed cells only. Approximate — recall measured in
    * tests against topkBruteForce. `nprobe == nlist` probes every cell
    * and is structurally exact (== brute force) — the oracle-gated mode.
    *
    * @param index a prebuilt (centroids, membership) pair — e.g. from
    *              `loadIvfIndex` — to search without re-clustering
    */
  def topkIvf(emb: DataFrame, queryIds: Seq[Long], k: Int, nlist: Int = 16,
              nprobe: Int = 4, idCol: String = "vec_id",
              vecCol: String = "embedding",
              index: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val c = corpus(emb, idCol, vecCol)
    val (cents, assigned) = index match {
      case Some((ce, membership)) =>
        // no cache: the prebuilt index frames are the caller's to manage
        (ce,
          c.join(membership.select("id", "cell"), "id")
            .select(col("id"), col("vec"), col("cell")))
      case None =>
        val ce = ivfCentroids(c, nlist).cache()
        (ce, assignToNearest(c, ce).cache())
    }
    val q = corpus(emb, idCol, vecCol)
      .where(col("id").isin(queryIds: _*))
      .select(col("id").as("qid"), col("vec").as("qvec"))
    // nearest nprobe cells per query (tiny: |q| × nlist)
    val wq = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid").asc)
    val probes = q.crossJoin(broadcast(cents))
      .select(col("qid"), col("qvec"), col("cid"),
        cosine(col("qvec"), col("cvec")).as("cos"))
      .withColumn("rn", row_number().over(wq))
      .where(col("rn") <= nprobe)
      .select(col("qid"), col("qvec"), col("cid").as("cell"))
    val wr = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    assigned.join(broadcast(probes), Seq("cell"))
      .where(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), cosine(col("qvec"), col("vec")).as("cos"))
      .withColumn("rank", row_number().over(wr))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("cos"))
  }
}
