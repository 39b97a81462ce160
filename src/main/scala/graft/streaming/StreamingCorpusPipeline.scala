package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.{Dedup, FingerprintIndex, LineIndex, MinHashIndex, NgramIndex, PrioritizedIndex, SegmentedIndex, SemanticIndex, Similarity, SpanIndex, TextAnalysis, WinnowIndex}
import graft.ops.{Debug, Frames}

/** The turnkey continuous corpus constructor: every delivery flows
  * through the full curation gauntlet — quality rules → exact dedup →
  * eval-set decontamination → near-dup dedup — with one verdict row per
  * document and survivors appended to the persisted indexes, so the
  * NEXT delivery dedups against everything ever kept. This is the
  * composition the individual streaming operators
  * ([[StreamingDedup]], [[graft.ext.FingerprintIndex]],
  * [[graft.ext.SpanIndex]]) exist for.
  *
  * Stage order is cheapest-first, each stage shrinking the next one's
  * input (the attrition discipline of
  * [[graft.ext.Curation.qualityAttrition]]):
  *
  *   1. `drop_quality` — the pluggable quality gate (default: Gopher
  *      rules), pure column expressions at scan speed;
  *   1b. line cleaning (when `lnPath` is set) — C4-style boilerplate
  *      removal against the persisted [[LineIndex]], BEFORE the exact
  *      stage (the RefinedWeb ordering): a recurring nav bar or cookie
  *      banner otherwise perturbs the whole-document fingerprint and
  *      defeats exact dedup. Transforms text, drops nothing; survivors'
  *      kept lines extend the index;
  *   2. `dup_exact` / `dup_exact_batch` — one fingerprint equi-join
  *      against the [[FingerprintIndex]], then the in-batch
  *      first-occurrence keeper (over the CLEANED text when the line
  *      stage is on);
  *   3. `contaminated` — span-level eval leakage against the
  *      [[SpanIndex]] (skipped when no index is configured); runs
  *      BEFORE near-dup so keeper selection happens among documents
  *      that can actually ship;
  *   4. `dup_index` / `dup_batch` — MinHash near-dup against the
  *      [[MinHashIndex]], then in-batch exact-verified components
  *      ([[StreamingDedup]]'s rule);
  *   5. `kept` — appended to BOTH dedup indexes as segment
  *      `b<batchId>`; when `ngPath` is set, the survivors' n-gram
  *      statistics accumulate into the [[NgramIndex]] too (the
  *      boilerplate watchlist tracks the corpus AS CONSTRUCTED — drops
  *      never pollute the heavy-hitter report the pipeline's own
  *      thresholds are tuned from).
  *
  * Exactly-once under at-least-once foreachBatch replay, by the family
  * contract: every effect (two index segments + the verdict directory)
  * is an overwrite keyed by batchId, and both cross-checks exclude the
  * batch's own segment so a replay reads the index as it stood before
  * the first attempt. State lives entirely in the index parquet — no
  * streaming state store; per-batch cost is bounded by batch size ×
  * collided buckets, never corpus size, and `compactEvery` keeps the
  * segment count bounded over stream age.
  */
object StreamingCorpusPipeline {

  /** Run independent effect tasks concurrently from a small thread pool
    * (the overlap-independent-jobs pattern): Spark's scheduler runs the
    * jobs at once, so each small write's commit/refresh tail back-fills
    * the others instead of serializing. Every task must be independent
    * (disjoint output paths here) and idempotent (all callers pass
    * overwrite-keyed index appends). All tasks run to completion even if
    * one fails — the appends are replay-safe by the family contract, so
    * partial completion under failure is indistinguishable from a
    * replayed batch — then the first failure propagates with every
    * LATER failure attached as suppressed (a shared-FS outage fails
    * several appends at once; losing all but one exception hampers
    * diagnosis).
    *
    * A generous per-call timeout bounds the wait — one hung append job
    * must not hang the batch forever. Every task's Spark jobs run under
    * one per-call job tag of the active session, so on timeout the
    * call cancels those jobs (interrupting their tasks), interrupts the
    * pool threads and waits (bounded) for them to end BEFORE it throws:
    * a timed-out append must not keep writing while the replay rewrites
    * the same `seg=` directory. The timeout error names which tasks
    * were still running.
    */
  private[streaming] def inParallel(tasks: Seq[(String, () => Unit)],
                                    timeout: scala.concurrent.duration.Duration =
                                      scala.concurrent.duration.Duration(30, "min")): Unit =
    if (tasks.sizeIs <= 1) tasks.foreach(_._2())
    else {
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
      val tag = s"graft-inParallel-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val pendingNames =
          java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        tasks.foreach { case (name, _) => pendingNames.add(name): Unit }
        val done =
          try scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(
              tasks.map { case (name, t) => scala.concurrent.Future {
                try scala.util.Try {
                  sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
                  try t() finally sc.foreach(_.removeJobTag(tag))
                } finally { pendingNames.remove(name): Unit }
              } }),
            timeout)
          catch {
            case e: java.util.concurrent.TimeoutException =>
              val stuck = pendingNames.toArray.mkString(", ")
              sc.foreach(_.cancelJobsWithTag(tag))
              pool.shutdownNow()
              pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
              throw new java.util.concurrent.TimeoutException(
                s"inParallel timed out after $timeout; still running: " +
                  stuck).initCause(e)
          }
        done.collect { case scala.util.Failure(e) => e } match {
          case Seq() => ()
          case first +: rest =>
            rest.foreach(first.addSuppressed)
            throw first
        }
      } finally { pool.shutdown(); () }
    }

  /** Per-stage knobs. `quality` maps the batch frame to (doc_id, keep)
    * — swap in a tuned ruleset, a [[TextAnalysis.scoreLinear]]
    * threshold, or `lit(1)` to disable; `minLeak` is the shared-run
    * length that convicts contamination.
    */
  final case class Config(
      tau: Double = 0.5,
      minLeak: Long = 2,
      semTau: Double = 0.35,
      winTau: Double = 0.5,
      winMaxDf: Long = 64,
      compactEvery: Int = 0,
      // route the exact stage through the fingerprint index's Bloom
      // sidecars ([[FingerprintIndex.dedupBatchBloom]]): verdicts
      // identical by construction, but a mostly-novel delivery skips
      // the fps scan — the steady-state case at corpus scale. Safe on
      // an index built without sidecars (degrades to the exact join).
      bloomGate: Boolean = false,
      // Unicode-normalize batch text (NFC/NFD/NFKC/NFKD) before every
      // stage — see the stage-0 note in processBatch. None = off.
      normalizeForm: Option[String] = None,
      // Priority keeper election for the dedup stages (exact +
      // near-dup + winnow) — [[graft.streaming.StreamingDedup]]'s
      // (priority, id) rule verbatim: in-batch groups/components elect
      // the (priority, id)-minimum member; vs the indexes, an indexed
      // survivor stays keeper against an equal-or-lower-priority clone
      // while a STRICTLY more trusted late clone is kept and becomes
      // keeper for its batch forward (no index rewrite — the
      // exactly-once departure from the batch-global election). Every
      // participating index (fp, MinHash, and winnow when that stage
      // is on) must have been built with priorities. The LINE stage
      // (r13) runs the within-batch (prio, id, idx) election — the
      // most-trusted document keeps a contested line — while across
      // batches the indexed line always wins regardless of trust (see
      // LineIndex.dedupLinesBatch for why the line face resolves the
      // late-trusted-copy tension the opposite way). The semantic
      // stage keeps its first-kept/min-id keepers: it matches on
      // embeddings where the copies are NOT byte-interchangeable, so
      // "which copy is the trusted one" is a curation decision that
      // stage doesn't own.
      prioCol: Option[String] = None,
      quality: DataFrame => DataFrame =
        d => TextAnalysis.gopherRules(d).select(col("doc_id"), col("keep")))

  /** Start the pipeline on a streaming (doc_id, text) frame — plus an
    * `embedding: array&lt;float&gt;` column when `semPath` is set. The
    * fingerprint and MinHash indexes must already exist (seed builds —
    * possibly over empty frames); `spanPath` is the optional eval-set
    * decontamination index; `semPath` an optional [[SemanticIndex]]
    * adding the SemDeDup stage after near-dup; `lnPath` an optional
    * [[LineIndex]] adding C4-style line cleaning between the quality
    * gate and the exact stage; `ngPath` an optional [[NgramIndex]]
    * accumulating the survivors' n-gram statistics per delivery (a
    * pure side-accumulator — it drops nothing and transforms nothing).
    */
  def start(docs: DataFrame, fpPath: String, mhPath: String,
            spanPath: Option[String], verdictPath: String,
            checkpoint: String, cfg: Config = Config(),
            semPath: Option[String] = None,
            winPath: Option[String] = None,
            lnPath: Option[String] = None,
            ngPath: Option[String] = None): StreamingQuery =
    StreamingDedup.run(docs.select(carried(cfg, semPath): _*), checkpoint,
        cfg.compactEvery)(
      processBatch(_, _, fpPath, mhPath, spanPath, verdictPath, cfg, semPath,
        winPath, lnPath, ngPath))(
      s => (Seq[SegmentedIndex](FingerprintIndex.load(s, fpPath),
          MinHashIndex.load(s, mhPath)) ++
        semPath.map(SemanticIndex.load(s, _)) ++
        winPath.map(WinnowIndex.load(s, _)) ++
        lnPath.map(LineIndex.load(s, _)) ++
        ngPath.map(NgramIndex.load(s, _)))
        .foreach(_.compactCommitted(checkpoint)))

  /** The gauntlet's carried columns: (doc_id, text), plus the embedding
    * when the semantic stage is on and the priority column when the
    * election is on.
    */
  private def carried(cfg: Config, semPath: Option[String]): Seq[Column] =
    col("doc_id") +: col("text") +:
      (semPath.map(_ => col("embedding")).toSeq ++ cfg.prioCol.map(col).toSeq)

  /** Cold-start bootstrap: run the gauntlet's BATCH-GLOBAL twin over a
    * historical corpus and seed both dedup indexes from the survivors —
    * the step before [[start]] takes over for deliveries. Against a
    * whole corpus there is no index to cross-check, so the stages are
    * the global operators: quality gate → exact keeper (min id per
    * canonical fingerprint) → near-dup components
    * ([[Dedup.minhashDuplicates]] → [[Dedup.connectedComponents]],
    * cluster root keeps). Survivors land as the indexes' `base`
    * segment via the build path, so the first streamed delivery dedups
    * against the full curated history.
    *
    * @return the verdict frame (doc_id, verdict, ref_id) with classes
    *         drop_quality / dup_exact / dup_batch / kept — the
    *         in-corpus analogues of the streaming verdicts
    */
  def bootstrap(corpus: DataFrame, fpPath: String, mhPath: String,
                cfg: Config = Config(), n: Int = 3, k: Int = 128,
                bands: Int = 64): DataFrame = Frames.scoped { frames =>
    val docs = corpus.select(col("doc_id"), col("text"))
    def minus(from: DataFrame, dropped: DataFrame): DataFrame =
      from.join(dropped.select("doc_id"), Seq("doc_id"), "left_anti")
    // Every verdict frame is localCheckpoint'd (eager) as it is
    // produced: each stage's work runs exactly once, inside its own
    // attribution window. Without the cuts, the CALLER's first action
    // re-ran the quality scan and the fingerprint window AFTER the
    // shingle/signature caches below were already released — the
    // silent-recompute suspect behind r10's 4× d46 bench spread. The
    // frames are verdict-sized (3 columns, bounded by the corpus's drop
    // counts), so the cut is cheap.
    val qDrops = Debug.time("quality")(docs
      .join(cfg.quality(docs).where(col("keep") === 0), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id"), lit("drop_quality").as("verdict"),
        lit(null).cast("long").as("ref_id"))
      .localCheckpoint())
    val afterQ = minus(docs, qDrops)
    val wFp = Window.partitionBy("fp")
    val exDrops = Debug.time("exact")(afterQ
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .withColumn("keeper", min("doc_id").over(wFp))
      .where(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), lit("dup_exact").as("verdict"),
        col("keeper").as("ref_id"))
      .localCheckpoint())
    // lineage cut before the pair search, as in processBatch
    val afterEx = frames.hold(Debug.time("exact")(minus(afterQ, exDrops)
      .select(col("doc_id"), col("text")).localCheckpoint()))
    val sh = frames.hold(Dedup.hashShingles(Dedup.shingles(afterEx, n)).cache())
    val sigs = frames.hold(Dedup.minhashSignatures(sh, k).cache())
    val nearDrops = Debug.time("near") {
      val pairs = Dedup.minhashDuplicates(afterEx, n = n, tau = cfg.tau,
        k = k, bands = bands, shingled = Some(sh), signatures = Some(sigs))
      Dedup.connectedComponents(pairs)
        .where(col("id") =!= col("root"))
        .select(col("id").as("doc_id"), lit("dup_batch").as("verdict"),
          col("root").as("ref_id"))
        .localCheckpoint()
    }
    val survivors = Debug.time("near")(minus(afterEx, nearDrops)
      .select(col("doc_id"), col("text")).localCheckpoint())
    // the two seed builds write disjoint directories from the same
    // checkpointed survivor frame — independent jobs, overlapped
    // ([[inParallel]], same reasoning as processBatch's appends)
    Debug.time("build")(inParallel(Seq(
      "fpBuild" -> (() => { FingerprintIndex.build(survivors, fpPath): Unit }),
      "mhBuild" -> (() => {
        MinHashIndex.build(survivors, mhPath, n = n, k = k,
          bands = bands): Unit
      }))))
    qDrops
      .unionByName(exDrops).unionByName(nearDrops)
      .unionByName(survivors.select(col("doc_id"),
        lit("kept").as("verdict"), lit(null).cast("long").as("ref_id")))
  }

  /** Cold-start for the semantic stage: SemDeDup over a historical
    * embedding corpus and seed the [[SemanticIndex]] from the
    * survivors — [[bootstrap]]'s embedding twin. The keeper rule is
    * [[Dedup.semanticDedup]]'s (drop any vector with a smaller-id
    * near-pair in its cell), spelled here with the dropping keeper
    * RECORDED (ref_id = the smallest such id) so the verdict frame
    * matches the gauntlet's shape; the pair join is the same
    * skew-salted within-cell self-join (a hot cell's quadratic work
    * splits across salt shards instead of one task).
    *
    * @return (doc_id, verdict, ref_id) with classes dup_semantic_batch
    *         / kept
    */
  def bootstrapSemantic(emb: DataFrame, semPath: String, nlist: Int,
                        tau: Double = 0.35, normalized: Boolean = true,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = Frames.scoped { frames =>
    val assigned = frames.hold(Dedup.clusterAssignment(emb, nlist, idCol, vecCol,
      normalized).cache())
    val sim = Similarity.pairSim(normalized, col("x.vec"), col("y.vec"))
    val S = 32L
    val ys = assigned.withColumn("salt", pmod(xxhash64(col("id")), lit(S)))
    val xs = assigned.withColumn("salt",
      explode(sequence(lit(0L), lit(S - 1L))))
    val drops = xs.as("x")
      .join(ys.as("y"),
        col("x.cell") === col("y.cell") &&
          col("x.salt") === col("y.salt") && col("x.id") < col("y.id"))
      .where(sim >= tau)
      .groupBy(col("y.id").as("doc_id"))
      .agg(min(col("x.id")).as("ref_id"))
      .select(col("doc_id"), lit("dup_semantic_batch").as("verdict"),
        col("ref_id"))
    val survivors = assigned
      .join(drops.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .select(col("id")).localCheckpoint()
    // build from the ORIGINAL rows (the assignment's vec may be the
    // normalized copy — build normalizes itself); centroids train on
    // the survivor set and land as base, the index the gauntlet grows
    SemanticIndex.build(
      emb.join(survivors.select(col("id").as(idCol)), Seq(idCol),
        "left_semi"),
      semPath, nlist, normalized, idCol, vecCol): Unit
    drops.unionByName(survivors.select(col("id").as("doc_id"),
      lit("kept").as("verdict"), lit(null).cast("long").as("ref_id")))
  }

  /** One batch of the gauntlet — public so a batch backfill applies
    * IDENTICAL semantics outside a stream. Each stage's seconds go to
    * the stage ledger under a fixed label while the batch runs inside
    * [[graft.ops.Debug.recordStages]]. Every cache and cut it makes is
    * released when it returns, failed or not ([[Frames]]).
    */
  def processBatch(batch: DataFrame, batchId: Long, fpPath: String,
                   mhPath: String, spanPath: Option[String],
                   verdictPath: String, cfg: Config,
                   semPath: Option[String] = None,
                   winPath: Option[String] = None,
                   lnPath: Option[String] = None,
                   ngPath: Option[String] = None): Unit = Frames.scoped { frames =>
    val spark = batch.sparkSession
    val seg = s"b$batchId"
    val carriedCols = carried(cfg, semPath)
    def emptyVerdicts: DataFrame = spark.emptyDataFrame
      .select(lit(0L).as("doc_id"), lit("").as("verdict"),
        lit(null).cast("long").as("ref_id"))
      .where(lit(false))
    // 0. Unicode normalization, when configured: precomposed and
    // decomposed spellings of the same text must collapse BEFORE any
    // fingerprint or shingle is computed, or exact dedup silently
    // misses them. Per-row map, no shuffle; the embedding column (and
    // any future carried column) rides through normalizeDocs untouched.
    // Seed/bootstrap corpora must be normalized with the SAME form at
    // index-build time — the index stores post-normalization content.
    val docs0 = batch.select(carriedCols: _*)
    val docs = frames.hold(cfg.normalizeForm.fold(docs0)(fm =>
      TextAnalysis.normalizeDocs(docs0, fm)
        // project docs0's own columns back (text swapped for its
        // normalized form), so a future carried column really does ride
        // through instead of being dropped by a hard-coded list
        .select(docs0.columns.map {
          case "text" => col("text_norm").as("text")
          case c      => col(c)
        }: _*))
      .cache())
    def minus(from: DataFrame, dropped: DataFrame): DataFrame =
      from.join(dropped.select("doc_id"), Seq("doc_id"), "left_anti")
    // attribution: when stage 0 is configured, materialize the docs
    // cache under its own label — otherwise the normalization pass
    // bills to whichever stage forces the cache first ("quality")
    cfg.normalizeForm.foreach(_ => Debug.force("normalize", docs): Unit)
    // 1. quality: anything the gate does not keep drops first
    val qDrops = Debug.force("quality", frames.hold(docs
      .join(cfg.quality(docs).where(col("keep") === 0), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id"), lit("drop_quality").as("verdict"),
        lit(null).cast("long").as("ref_id")).cache()))
    val afterQ0 = minus(docs, qDrops)

    // 1b. line cleaning, when an index is configured: strip lines the
    // kept corpus (or this batch, earlier) has already seen BEFORE
    // fingerprinting — recurring boilerplate otherwise makes every
    // page's fingerprint unique and defeats the exact stage. Own
    // segment excluded so a replayed batch reproduces the original
    // cleaning. With prioCol the WITHIN-batch line keeper runs the
    // (prio, id, idx) election (LineIndex.dedupLinesBatch — the
    // most-trusted doc keeps a contested line; across batches the
    // indexed line always wins, see that method's contract). Non-text
    // carried columns (embedding, prio) ride around the text-only
    // cleaner via a re-join on doc_id.
    val afterQ = lnPath match {
      case Some(p) =>
        val cleaned = LineIndex.load(spark, p)
          .dedupLinesBatch(
            afterQ0.select(col("doc_id") +: col("text") +:
              cfg.prioCol.map(col).toSeq: _*),
            excludeSeg = Some(seg), prioCol = cfg.prioCol)
        val extras = afterQ0.columns.filter(c => c != "doc_id" && c != "text")
        Debug.force("line", frames.hold((
          if (extras.isEmpty) cleaned
          else cleaned.join(
            afterQ0.select("doc_id", extras.toIndexedSeq: _*), Seq("doc_id"))).cache()))
      case None => afterQ0
    }

    // cross-index keeper, shared by the exact, near and winnow stages
    // (Dedup.crossKeepers — StreamingDedup's rule), as a verdict
    def crossVerdicts(idx: PrioritizedIndex, pairs: DataFrame,
                      verdict: String): DataFrame =
      Dedup.crossKeepers(pairs, docs, cfg.prioCol,
          idx.priorities(excludeSeg = Some(seg)))
        .select(col("doc_id"), lit(verdict).as("verdict"),
          col("dup_of").as("ref_id"))
    // in-batch component keeper, shared by the near and winnow stages
    // (Dedup.batchKeepers — StreamingDedup's rule), as a verdict
    def batchVerdicts(pairs: DataFrame, from: DataFrame,
                      verdict: String): DataFrame =
      Dedup.batchKeepers(pairs, from, cfg.prioCol)
        .select(col("doc_id"), lit(verdict).as("verdict"),
          col("dup_of").as("ref_id"))

    // 2a. exact vs the kept corpus (own segment excluded for replay)
    val fpIdx = FingerprintIndex.load(spark, fpPath)
    fpIdx.requirePriorities(cfg.prioCol)
    val exPairs =
      if (cfg.bloomGate) fpIdx.dedupBatchBloom(afterQ, excludeSeg = Some(seg))
      else fpIdx.dedupBatch(afterQ, excludeSeg = Some(seg))
    val exCross = Debug.force("exact", frames.hold(
      crossVerdicts(fpIdx, exPairs, "dup_exact").cache()))
    val afterExC = minus(afterQ, exCross)
    // 2b. exact within the batch: the (priority, id)-minimum
    // occurrence kept — first (smallest-id) without prioCol
    val wFp = Window.partitionBy("fp")
    val exBatch = Debug.force("exact", frames.hold((cfg.prioCol match {
      case Some(pc) =>
        afterExC
          .select(col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("fp"),
            Dedup.prioRank(col(pc)).as("__p"))
          .withColumn("keeper",
            min(struct(col("__p"), col("doc_id"))).over(wFp)
              .getField("doc_id"))
          .where(col("doc_id") =!= col("keeper"))
          .select(col("doc_id"), lit("dup_exact_batch").as("verdict"),
            col("keeper").as("ref_id"))
      case None =>
        afterExC
          .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
          .withColumn("keeper", min("doc_id").over(wFp))
          .where(col("doc_id") =!= col("keeper"))
          .select(col("doc_id"), lit("dup_exact_batch").as("verdict"),
            col("keeper").as("ref_id"))
    }).cache()))
    val afterEx = minus(afterExC, exBatch)

    // 3. decontamination: any run of ≥ minLeak shared sampled grams
    // with any indexed eval doc convicts
    val contam = Debug.force("contam", frames.hold((spanPath match {
      case Some(p) => SpanIndex.load(spark, p)
        .check(afterEx, minShared = cfg.minLeak)
        .groupBy("doc_id").agg(min("bench_id").as("ref_id"))
        .select(col("doc_id"), lit("contaminated").as("verdict"),
          col("ref_id"))
      case None => emptyVerdicts
    }).cache()))
    // lineage cut: everything before this point is a chain of
    // anti-joins whose LOGICAL plan would otherwise underlie every
    // frame the near-dup block builds — Catalyst re-analyzes that
    // whole tree per derived frame, a driver-side cost that grew to
    // ~40% of the batch wall. The checkpointed frame is batch-sized
    // by construction (micro-batches are bounded), so materializing
    // it is cheap and every downstream plan starts from an RDD scan.
    val afterC = frames.hold(Debug.time("near")(
      minus(afterEx, contam).select(carriedCols: _*).localCheckpoint()))

    // 4. near-dup: cross vs the index, then in-batch components
    // (StreamingDedup's rule). The batch is shingled and signed ONCE
    // here — the cross check, the in-batch pair search, and the
    // survivor append all filter the same two cached tables by id
    // (shingling is per-document, so filtered-docs shingles ==
    // filtered shingles), instead of re-tokenizing the batch three
    // times.
    val mhIdx = MinHashIndex.load(spark, mhPath)
    mhIdx.requirePriorities(cfg.prioCol)
    def idsOf(d: DataFrame)(t: DataFrame): DataFrame =
      t.join(d.select(col("doc_id").as("id")), Seq("id"), "left_semi")
    val shAll = frames.hold(Dedup.hashShingles(Dedup.shingles(afterC, mhIdx.n)).cache())
    val sigsAll = frames.hold(mhIdx.signaturesOf(shAll).cache())
    // ONE fused candidates-union pass for the whole near stage (r15):
    // the cross-index check and the in-batch pair search previously
    // ran as two separate job chains over the same shingle/signature
    // frames — two band joins, two estimate prefilters, two Jaccard
    // verifies per batch. nearPairsUnion shares all of it; the two
    // VERDICT classes split downstream on the `cross` tag, and the
    // in-batch rows are endpoint-filtered into the cross survivors
    // (banding/estimate/Jaccard are per-pair functions, so the
    // filtered set equals minhashDuplicates(afterNc)'s output — the
    // d45/d81/d82 oracles gate exactly this).
    // cached, NOT separately forced: the nearCross force below is the
    // chain's first consumer and materializes this cache inside its
    // own job — a separate count() here would add one job per batch
    // for no work saved (job cadence is the fixture-scale wall)
    val nearPairs = frames.hold(Debug.time("near")(
      mhIdx.nearPairsUnion(afterC, cfg.tau, frames, excludeSeg = Some(seg),
        shingled = Some(shAll), signatures = Some(sigsAll))).cache())
    val nearCross = Debug.force("near", frames.hold(
      crossVerdicts(mhIdx,
        nearPairs.where(col("cross"))
          .select(col("a").as("doc_id"), col("b").as("dup_of"),
            col("jaccard")),
        "dup_index").cache()))
    val afterNc = frames.hold(Debug.time("near")(
      minus(afterC, nearCross).select(carriedCols: _*).localCheckpoint()))
    val pairs = nearPairs.where(!col("cross"))
      .join(afterNc.select(col("doc_id").as("a")), Seq("a"), "left_semi")
      .join(afterNc.select(col("doc_id").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"), col("jaccard"))
    val nearBatch = Debug.force("near", frames.hold(
      batchVerdicts(pairs, afterNc, "dup_batch").cache()))
    val afterNear0 = minus(afterNc, nearBatch)

    // 4b. winnow stage, when an index is configured: the positional
    // sub-token signal after the word-shingle stage — catches
    // char-run near-dups that tokenize differently (shifted word
    // boundaries defeat word shingles entirely; shared byte runs
    // survive winnowing). Cross with own-segment exclusion, then the
    // in-batch components keeper (StreamingWinnowDedup's rule);
    // survivors extend the winnow index below like the other indexes.
    val (winCross, winBatch, afterNear) = winPath match {
      case Some(p) =>
        val winIdx = WinnowIndex.load(spark, p)
        winIdx.requirePriorities(cfg.prioCol)
        val wCross = Debug.force("winnow", frames.hold(
          crossVerdicts(winIdx,
            winIdx.dedupBatch(afterNear0, cfg.winTau, cfg.winMaxDf,
              excludeSeg = Some(seg)),
            "dup_winnow").cache()))
        val afterWc = minus(afterNear0, wCross)
        val wPairs = Dedup.winnowPairs(afterWc, k = winIdx.k, w = winIdx.w,
          tau = cfg.winTau, maxHashFreq = cfg.winMaxDf)
        val wBatch = Debug.force("winnow", frames.hold(
          batchVerdicts(wPairs, afterWc, "dup_winnow_batch").cache()))
        (wCross, wBatch, frames.hold(minus(afterWc, wBatch).cache()))
      case None =>
        (emptyVerdicts, emptyVerdicts, afterNear0)
    }

    // 4c. semantic (SemDeDup) stage, when an index is configured:
    // assign ONCE against the frozen centroids, cross-dedup with
    // own-segment exclusion, then the in-batch smaller-id keeper
    // within cells (StreamingSemanticDedup's rule verbatim);
    // survivors extend the semantic index like the text indexes
    val (semCross, semBatch, survivors, semAppend) = semPath match {
      case Some(p) =>
        val semIdx = SemanticIndex.load(spark, p)
        val assigned = frames.hold(semIdx.assign(afterNear, idCol = "doc_id",
          vecCol = "embedding").cache())
        val sCross = Debug.force("semantic", frames.hold(semIdx
          .dedupAssigned(assigned, cfg.semTau, excludeSeg = Some(seg))
          .groupBy("vec_id").agg(min("dup_of").as("ref_id"))
          .select(col("vec_id").as("doc_id"),
            lit("dup_semantic").as("verdict"), col("ref_id")).cache()))
        val remaining = frames.hold(assigned.join(
          sCross.select(col("doc_id").as("id")), Seq("id"), "left_anti").cache())
        val sBatch = Debug.force("semantic", frames.hold(
          Dedup.cellKeepers(remaining, cfg.semTau, semIdx.normalized)
            .select(col("id").as("doc_id"),
              lit("dup_semantic_batch").as("verdict"),
              col("dup_of").as("ref_id")).cache()))
        val surv = frames.hold(minus(minus(afterNear, sCross), sBatch).cache())
        // the append is DEFERRED until after the verdict write (see
        // the ordering note below) — appendAssigned refreshes the
        // semantic index path, invalidating these very frames' caches
        val doAppend = () => Debug.time("append")(
          semIdx.appendAssigned(remaining.join(
            surv.select(col("doc_id").as("id")), Seq("id"), "left_semi"),
            seg = seg))
        (sCross, sBatch, surv, doAppend)
      case None =>
        (emptyVerdicts, emptyVerdicts, frames.hold(afterNear.cache()), () => ())
    }

    // 5. exactly-once effects, all keyed by batchId — the VERDICT
    // first. Every index append ends in refreshByPath on that index's
    // tables, which invalidates each cached stage frame whose plan
    // READ them (the exact, contamination, and near-cross verdicts
    // all descend from index scans); a verdict write after the
    // appends therefore recomputed those whole chains a second time
    // — measured ~5 s of d49's ~15 s batch at sf0.1, attributed per
    // union branch (exact 0.9 + contam 2.9 + nearCross 1.0). All
    // effects are overwrite-keyed (verdict by batch=, index segments
    // by seg=), so replay semantics are order-independent; writing
    // the verdict while the caches are still valid makes it a
    // cached-read union plus one small parquet write. The line index
    // grows by the SURVIVORS' kept lines (the "everything ever kept"
    // contract the other indexes follow): a dropped near-dup's
    // unshipped lines never poison future kept documents.
    // `survivors` feeds the verdict write AND every index append
    // below, but its plan descends from the mh/win/sem INDEX scans —
    // the first append's refreshByPath invalidates its cache, so
    // every LATER append silently recomputed those chains (measured
    // on d47: appendFp 1.6 s vs d45's 0.24 s on a 3× smaller batch —
    // the whole semantic assign+dedup chain re-ran inside the fp
    // append). One batch-bounded lineage cut makes append order
    // irrelevant; the cut is billed to the verdict stage it
    // materializes.
    val survCut = frames.hold(Debug.time("verdict")(survivors.localCheckpoint()))
    Debug.time("verdict")(qDrops
      .unionByName(exCross).unionByName(exBatch).unionByName(contam)
      .unionByName(nearCross).unionByName(nearBatch)
      .unionByName(winCross).unionByName(winBatch)
      .unionByName(semCross).unionByName(semBatch)
      .unionByName(survCut.select(col("doc_id"),
        lit("kept").as("verdict"), lit(null).cast("long").as("ref_id")))
      .write.mode("overwrite").parquet(s"$verdictPath/batch=$batchId"))
    // the semantic append still reads its own cached (index-derived)
    // frames, so it runs FIRST — before any other append's refresh
    // can invalidate them
    semAppend()
    // the remaining appends write DISJOINT index directories and read
    // only the checkpointed survivor cut (plus the shared shingle
    // caches), so they are independent jobs — run them concurrently
    // ([[inParallel]]): sequentially each paid its own write+commit+
    // refresh tail while 31 cores idled. Only two orderings ever
    // mattered and both are preserved: verdict before any append
    // (cache invalidation, above) and the semantic append before any
    // other append's refresh. Stage seconds are per-thread elapsed, so
    // concurrent append seconds overlap (their sum bounds the wall
    // from above).
    inParallel(Seq[(String, () => Unit)](
      "appendFp" -> (() => Debug.time("appendFp")(
        fpIdx.append(survCut, seg = seg, prioCol = cfg.prioCol)))
    ) ++ lnPath.map(p => "appendLn" -> (() => Debug.time("append")(
      LineIndex.load(spark, p).append(survCut, seg = seg)))
    ) ++ winPath.map(p => "appendWin" -> (() => Debug.time("append")(
      WinnowIndex.load(spark, p).append(survCut, seg = seg,
        prioCol = cfg.prioCol)))
    // survivor n-gram statistics, when configured: the heavy-hitter
    // report tracks the corpus AS CONSTRUCTED (post-cleaning text,
    // drops excluded) — exactly-once by the same
    // overwrite-per-segment contract as every other append here
    ) ++ ngPath.map(p => "appendNg" -> (() => Debug.time("append")(
      NgramIndex.load(spark, p).append(survCut, seg = seg)))
    ) :+ ("appendMh" -> (() => Debug.time("appendMh") {
      mhIdx.append(survCut, seg = seg,
        shingled = Some(idsOf(survCut)(shAll)),
        signatures = Some(idsOf(survCut)(sigsAll)),
        prioCol = cfg.prioCol)
    })))
  }
}
