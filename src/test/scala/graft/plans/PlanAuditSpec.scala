package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model._
import graft.ops.{Fetch, Rollup}
import graft.store.MetricStore

/** Physical-plan audit: the scale properties the 100 TB design depends on
  * must be visible in the executed plan, not assumed. Each assertion here
  * is something that, if silently lost in a refactor, would still pass
  * value-equality tests but collapse at cluster scale.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val Now = 1706659200L

  private def seededStore(): MetricStore = {
    val store = new MetricStore(
      spark, Files.createTempDirectory("ms-audit").toString, numBuckets = 4)
    store.create("m",
      RetentionPolicy(Seq(ArchiveInfo(60, 5000), ArchiveInfo(300, 5000)), xff = 0f))
    val pts = (0 until 600).map(i => ("m", Now - 36000 + i * 60L, i.toDouble, i.toLong))
    store.updateMany(pts.toDF("metric", "ts", "value", "seq"), Now)
    store
  }

  /** Directories a plan's file scans list and read. */
  private def scannedDirs(plan: LogicalPlan): Seq[String] = plan.collect {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }
  }.flatten

  /** Each scanned directory must be one of the metric's pb directories at
    * level 0 with its tb inside the fetch's bound, never the level root.
    */
  private def assertPrunedDirs(store: MetricStore, plan: LogicalPlan,
                               from: Long, until: Long): Unit = {
    val dirs = scannedDirs(plan)
    val bs = store.bucketSeconds(60)
    val (fi, ui) = Fetch.gridBounds(from, until, 60)
    val allowed = (fi / bs - 1 to ui / bs)
      .map(t => s"/level_0/pb=${store.pbOf("m")}/tb=$t").toSet
    assert(dirs.nonEmpty && dirs.forall(d => allowed.exists(d.endsWith)),
      s"scan reads $dirs, allowed $allowed")
  }

  test("fetch reads with partition pruning (pb/tb) and parquet pushdown on interval") {
    val store = seededStore()
    val Some(df) = store.fetchFrame(Seq("m"), Now - 3600, Now, Now)
    // the metric's pb and the range's tb pick the directories the scan
    // lists (the ring-offset analog)…
    assertPrunedDirs(store, df.queryExecution.optimizedPlan, Now - 3600, Now)
    // …and the interval predicate must reach the parquet scan
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [") &&
      scan.split("PushedFilters: ", 2)(1).takeWhile(_ != ']').contains("interval"),
      s"no interval pushdown in:\n$scan")
  }

  test("single-point fetch prunes on the metric hash bucket too") {
    val store = seededStore()
    // fetch() collects, so audit the plan its action ran, taken from a
    // query-execution listener; the listener bus delivers in order, so
    // the sentinel action's event means the fetch's has arrived
    val sentinel = "plan_audit_sentinel"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(sentinel)) drained.countDown()
        else plans.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    store.fetch("m", Now - 86400, Now, Now) // warm the count-column probe
    spark.listenerManager.register(listener)
    try {
      val Some(res) = store.fetch("m", Now - 36000, Now, Now)
      assert(res.values.flatten.size == 599)
      spark.range(1).toDF(sentinel).collect()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val Seq(plan) = plans.asScala.toSeq
      .filter(p => scannedDirs(p).exists(_.contains(store.root)))
    assertPrunedDirs(store, plan, Now - 36000, Now)
    assert(plan.collect { case j: Join => j }.isEmpty, s"fetch plans a join:\n$plan")
  }

  test("incremental cascade uses a broadcast semi join against the change set") {
    val higher = (0 until 100).map(i => ("m", i * 60L, i.toDouble))
      .toDF("metric", "interval", "value")
    val changed = Seq(("m", 0L), ("m", 300L)).toDF("metric", "interval")
    val plan = Rollup
      .propagateTouched(higher, changed, 60, 300, AggregationMethod.Average, 0.5f)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"cascade should broadcast the small change set:\n$plan")
  }

  test("rollup aggregation runs inside whole-stage codegen") {
    val higher = (0 until 100).map(i => ("m", i * 60L, i.toDouble))
      .toDF("metric", "interval", "value")
    val df = Rollup.propagate(higher, 60, 300, AggregationMethod.Average, 0.5f)
    df.collect() // finalize the adaptive plan — codegen spans appear post-execution
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd operators render with a "*(stageId)" prefix; both the
    // partial and final HashAggregate must be inside a span
    assert(plan.contains("*(1) HashAggregate") || plan.contains("*(2) HashAggregate"),
      s"no codegen span around the aggregation:\n$plan")
  }

  test("AQE splits a skewed shuffle join at runtime (the data-skew complement to salting)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k))
    try {
      // thresholds low enough that the hot key trips skew handling at
      // test scale; broadcast disabled so the join actually shuffles
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import spark.implicits._
      // 90% of rows share one key — the metric-skew shape
      val facts = spark.range(200000)
        .selectExpr("CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k",
          "CAST(id AS DOUBLE) AS v")
      val dim = spark.range(20000).selectExpr("id AS k", "id * 2 AS w")
      val joined = facts.join(dim, "k")
      joined.collect() // executeCollect on THIS QueryExecution finalizes its adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not flag the skewed join:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("ANN rerank joins broadcast the shortlist; the corpus is never the build side") {
    val emb = (0L until 500L).map(i =>
      (i, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13).toFloat / 13f)))
      .toDF("vec_id", "embedding")
    val qids = Seq(0L, 1L)

    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }

    // PQ: the nid rerank join must build from the (broadcast) shortlist
    // side — BuildRight here would mean broadcasting the float corpus,
    // which flips to a full corpus shuffle at real scale
    val pq = finalPlan(graft.ext.Similarity.topkPq(emb, qids, 3))
    assert(pq.contains("BuildLeft"), s"rerank does not build from shortlist:\n$pq")
    assert(!pq.contains("SortMergeJoin"), s"corpus-shuffling join in PQ search:\n$pq")

    val quant = finalPlan(graft.ext.Similarity.topkQuantized(emb, qids, 3))
    assert(quant.contains("BuildLeft") && !quant.contains("SortMergeJoin"),
      s"corpus-shuffling join in quantized search:\n$quant")

    // IVF×PQ with a cell-carrying index: probing is a broadcast join
    // against the single code table — no membership join, no shuffle join
    val ivfpq = finalPlan(
      graft.ext.Similarity.topkIvfPq(emb, qids, 3, nlist = 4, nprobe = 2))
    assert(!ivfpq.contains("SortMergeJoin"),
      s"corpus-shuffling join in IVF×PQ search:\n$ivfpq")

    val ivf = finalPlan(
      graft.ext.Similarity.topkIvf(emb, qids, 3, nlist = 4, nprobe = 2))
    assert(!ivf.contains("SortMergeJoin"),
      s"corpus-shuffling join in IVF search:\n$ivf")
  }

  test("span family: occ window rides the df window's exchange; bench side broadcasts") {
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val docs = (0L until 40L).map(i =>
      (i, s"document $i body " + ("shared boilerplate span here " * 3) + i))
      .toDF("doc_id", "text")

    // Skew discipline (capGramFreq): no stage may partition the raw
    // position table by bare g — a gram in every doc would funnel its
    // whole mass through one task — and the OOM vector (a collect_set
    // window gathering a mega-gram's doc set) must not reappear. The
    // only per-g structures allowed before the df cap are fine-grained
    // (g, id) ones; the equi-join on g happens after the cap removed
    // the mega-grams.
    val spans = finalPlan(graft.ext.Dedup.charGramSpans(docs, prefix = ""))
    assert(spans.matches("(?s).*hashpartitioning\\(g#\\d+, id#.*"),
      s"expected the fine-grained (g, id) exchange for the occ window:\n$spans")
    assert(!spans.contains("collect_set"),
      s"mega-gram set materialization is back:\n$spans")
    assert(!spans.contains("CartesianProduct") &&
      !spans.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the span pipeline:\n$spans")

    // Line dedup: the keeper is a struct-min AGGREGATE (map-side
    // combinable — a universal banner collapses inside each split), so
    // the whole plan must be window-free and equi-keyed.
    val lineDedup = finalPlan(graft.ext.Dedup.dedupLines(
      docs.withColumn("text",
        regexp_replace(col("text"), "((?:\\S+ ){3}\\S+) ", "$1\n")),
      minLen = 10))
    assert(!lineDedup.contains("Window"),
      s"line-dedup keeper must be an aggregate, not a window:\n$lineDedup")
    assert(!lineDedup.contains("CartesianProduct") &&
      !lineDedup.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in line dedup:\n$lineDedup")

    // Decontamination: the benchmark side is an eval set — small by
    // nature — and must broadcast; the training corpus never re-shuffles
    // for the gram join.
    val against = finalPlan(graft.ext.Dedup.charGramSpansAgainst(
      docs.where(col("doc_id") < 30), docs.where(col("doc_id") >= 30),
      prefix = ""))
    assert(against.contains("BroadcastHashJoin"),
      s"bench gram table not broadcast:\n$against")

    // Removal: interval merge + splice stay equi-keyed per doc
    val removal = finalPlan(graft.ext.Dedup.removeSharedSpans(
      docs, prefix = "", minSpan = 20))
    assert(!removal.contains("CartesianProduct") &&
      !removal.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in span removal:\n$removal")
  }

  test("exact span family: cross-table bench broadcasts; global removal equi-keyed") {
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val docs = (0L until 40L).map(i =>
      (i, s"document $i body " + ("shared boilerplate span here " * 3) + i))
      .toDF("doc_id", "text")

    // Cross-table run candidates (the exact-decontamination front end):
    // the benchmark side must broadcast, like its aggregated sibling.
    val runsAgainst = finalPlan(graft.ext.Dedup.charGramRunsAgainst(
      docs.where(col("doc_id") < 30), docs.where(col("doc_id") >= 30),
      prefix = ""))
    assert(runsAgainst.contains("BroadcastHashJoin"),
      s"bench gram table not broadcast in charGramRunsAgainst:\n$runsAgainst")

    // Cluster-global removal: interval-node edges, the CC closure, the
    // keeper resolution, and the splice must all stay equi-keyed — a
    // cartesian here would be quadratic in the node count.
    val global = finalPlan(graft.ext.Dedup.removeSharedSpansGlobal(
      docs, prefix = "", minSpan = 20))
    assert(!global.contains("CartesianProduct") &&
      !global.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in cluster-global span removal:\n$global")
  }

  test("high-slot-count rollup auto-selects the two-stage salted plan") {
    val higher = (0 until 1000).map(i => ("m", i.toLong, i.toDouble))
      .toDF("metric", "interval", "value")
    // 1s → 1d: 86400 slots per window ≥ threshold → salted (3 aggregates:
    // partial per salt, final merge, each with its own partial/final split)
    val salted = Rollup.propagate(higher, 1, 86400, AggregationMethod.Sum, 0f)
    val nAggs = salted.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nAggs == 2, s"expected salted two-stage aggregation, got $nAggs stages")
    // below threshold: single aggregate
    val plain = Rollup.propagate(higher, 60, 300, AggregationMethod.Sum, 0f)
    val nPlain = plain.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size
    assert(nPlain == 1)
    // and the salted result equals brute force
    val brute = (0 until 1000).map(_.toDouble).sum
    assert(salted.collect().map(_.getDouble(2)).sum == brute)
  }

  test("importance weighting: one token scan (ReusedExchange), ratio broadcast, no SMJ") {
    val raw = (0L until 200L)
      .map(i => (i, s"tok${i % 7} tok${i % 11} common words here"))
      .toDF("doc_id", "text")
    val tgt = (0L until 40L).map(i => (i, s"tok${i % 5} target words"))
      .toDF("doc_id", "text")
    val df = graft.ext.TextAnalysis.importanceWeights(raw, tgt, dim = 64)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the raw-side bucket model re-aggregates the per-doc counts table,
    // and both consumers ride ONE (doc_id, bucket) exchange — without
    // the ReusedExchange the 100 TB corpus would tokenize twice
    assert(plan.contains("ReusedExchange"),
      s"raw token scan not reused:\n$plan")
    // the dim-row log-ratio table broadcasts onto the corpus-side
    // counts; nothing joins by shuffling the corpus
    assert(plan.contains("BroadcastHashJoin"), s"ratio join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-shuffling join:\n$plan")
  }

  test("winnowPairs: the df-cap window's exchange feeds the self-join, no cartesian") {
    val docsDf = (0L until 120L)
      .map(i => (i, s"shared prefix words here item$i tail block " * 3))
      .toDF("doc_id", "text")
    val df = graft.ext.Dedup.winnowPairs(docsDf, tau = 0.9)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the cap window partitions by h; the candidate self-join keys on h —
    // the second side must reuse the first's exchange, not re-shuffle
    assert(plan.contains("ReusedExchange"),
      s"cap-window exchange not reused by the self-join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"winnow pairing must stay an equi-join:\n$plan")
  }

  test("BPE: pair counts partial-aggregate map-side; encode joins broadcast the dictionary") {
    val docsDf = (0L until 300L)
      .map(i => (i, s"alpha${i % 9} beta${i % 5} gamma delta epsilon"))
      .toDF("doc_id", "text")
    // pair counting must combine before the shuffle: the dictionary is
    // vocabulary-sized but the exploded pair stream is symbol-sized —
    // shipping raw pairs would shuffle ~text-length rows per word
    val pc = graft.ext.Bpe.pairCounts(graft.ext.Bpe.wordDict(docsDf))
    pc.collect()
    val pcPlan = pc.queryExecution.executedPlan.toString
    assert(pcPlan.contains("partial_sum") || pcPlan.contains("Partial"),
      s"pair counts not map-side combined:\n$pcPlan")
    // encode-by-join: the vocabulary side broadcasts; the corpus is
    // never shuffled to meet its own dictionary
    val trained = graft.ext.Bpe.train(docsDf, numMerges = 4)
    val counts = graft.ext.Bpe.tokenCounts(docsDf, trained)
    counts.collect()
    val cPlan = counts.queryExecution.executedPlan.toString
    assert(cPlan.contains("BroadcastHashJoin"),
      s"dictionary join not broadcast:\n$cPlan")
    assert(!cPlan.contains("SortMergeJoin"), s"corpus-shuffling join:\n$cPlan")
  }

  test("bm25: idf and (N, avgdl) broadcast; the corpus never shuffles to meet them") {
    val docsDf = (0L until 300L)
      .map(i => (i, s"alpha${i % 9} beta${i % 5} gamma delta epsilon"))
      .toDF("doc_id", "text")
    val df = graft.ext.TextAnalysis.bm25Scores(docsDf,
      Seq("gamma", "beta1", "alpha3"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the ≤|terms|-row idf table and the 1-row (N, avgdl) frame
    // broadcast onto the filtered query-term rows (the qtf⋈dl doc-key
    // join may legitimately shuffle — both sides already live on the
    // corpus's one exchange); no cartesian anywhere
    assert(plan.contains("BroadcastHashJoin"), s"idf join not broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoop"),
      s"stats frame not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in bm25:\n$plan")
  }

  test("trainLinear: the cached feature table's (y, doc_id) exchange is paid once, steps reuse it") {
    val pos = (0L until 120L).map(i => (i, s"alpha${i % 7} beta${i % 5} common"))
      .toDF("doc_id", "text")
    val neg = (200L until 320L).map(i => (i, s"omega${i % 7} psi${i % 5} common"))
      .toDF("doc_id", "text")
    // count shuffles executed across a 3-step train: the feature
    // repartition + its upstream hashedTf shuffles happen ONCE (cached);
    // per step only the dim+1-row gradient aggregate's small exchange
    // and the residual join's reuse of the cache partitioning remain
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val m3 = graft.ext.TextAnalysis.trainLinear(pos, neg, dim = 16, steps = 3)
      Thread.sleep(500) // drain the async listener bus
      val s3 = stages.get
      stages.set(0)
      val m6 = graft.ext.TextAnalysis.trainLinear(pos, neg, dim = 16, steps = 6)
      Thread.sleep(500)
      val s6 = stages.get
      // the per-step marginal stage count must stay small (gradient agg
      // + residual join over the CACHED features) — a regression that
      // rebuilds hashedTf per step adds its explode/normalize/shuffle
      // stages to every increment and trips this bound
      val marginal = (s6 - s3).toDouble / 3.0
      assert(marginal <= 8.0, s"per-step stage cost too high: $marginal ($s3 -> $s6)")
      assert(m3.weights.length == 16 && m6.weights.length == 16)
    } finally sc.removeSparkListener(listener)
  }

  test("topNgrams: tf partial-aggregates map-side and topK plans as TakeOrdered, never a global sort") {
    val docsDf = (0L until 400L)
      .map(i => (i, s"alpha${i % 9} beta${i % 5} gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val df = graft.ext.TextAnalysis.topNgrams(docsDf, n = 2, topK = 10)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the occurrence stream must combine before it shuffles — at corpus
    // scale the shuffle is vocabulary-sized, never occurrence-sized
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"tf not map-side combined:\n$plan")
    // ORDER BY tf LIMIT K is a TakeOrdered, not a full sort of the
    // vocabulary
    assert(plan.contains("TakeOrderedAndProject"),
      s"topK planned as a global sort:\n$plan")
  }

  test("topTerms: df joins broadcast onto tf, the 1-row N frame broadcasts, rank window keys by doc (no global sort)") {
    val docsDf = (0L until 400L)
      .map(i => (i, s"alpha${i % 9} beta${i % 5} gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val df = graft.ext.TextAnalysis.topTerms(docsDf, k = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the vocabulary-sized df table and the 1-row N frame must
    // broadcast; the corpus-sized tf table never shuffles to meet them
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoop"),
      s"df/N not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in topTerms:\n$plan")
    // the top-k window partitions by doc_id (an unkeyed window funnels
    // the whole vocabulary through one task)
    val windowLine = plan.linesIterator
      .find(_.contains("Window [")).getOrElse("")
    assert(windowLine.contains("doc_id"),
      s"rank window not doc-keyed: $windowLine\n$plan")
  }

  test("topNgramsSketch: the candidate recount join broadcasts the MG nominees; the corpus never shuffles to meet them") {
    val docsDf = (0L until 400L)
      .map(i => (i, s"alpha${i % 9} beta${i % 5} gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val df = graft.ext.TextAnalysis
      .topNgramsSketch(docsDf, n = 2, topK = 10, counters = 64)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // candidates are ≤ counters × partitions rows — the recount join
    // must broadcast them onto the occurrence stream
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"non-equi join in the sketch recount:\n$plan")
  }

  test("corpusStats approx: no (source, token) exchange — the vocabulary never shuffles") {
    val docsDf = (0L until 400L)
      .map(i => (i, s"s${i % 3}", s"alpha${i % 9} beta${i % 5} gamma delta"))
      .toDF("doc_id", "source", "text")
    val approx = graft.ext.Curation.corpusStats(docsDf, approx = true)
    approx.collect()
    val plan = approx.queryExecution.executedPlan.toString
    // the HLL sketch must partial-aggregate map-side like any counter…
    assert(plan.contains("partial_approx_count_distinct"),
      s"HLL not map-side combined:\n$plan")
    // …and no aggregate may key on the token itself — that grouping IS
    // the vocabulary-sized shuffle the approx mode exists to remove
    val aggKeys = plan.linesIterator
      .filter(l => l.contains("HashAggregate(keys="))
      .map(_.split("keys=", 2)(1).takeWhile(_ != ']')).toSeq
    assert(aggKeys.nonEmpty && aggKeys.forall(!_.contains("tok")),
      s"an aggregate still keys on the token:\n$plan")
    // the exact twin DOES key on (source, tok) — the contrast proves
    // the assertion bites
    val exact = graft.ext.Curation.corpusStats(docsDf)
    exact.collect()
    val exactKeys = exact.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("HashAggregate(keys="))
      .map(_.split("keys=", 2)(1).takeWhile(_ != ']')).toSeq
    assert(exactKeys.exists(_.contains("tok")),
      "control: the exact plan should key on tok somewhere")
  }

  test("bucketByScoreApprox: one sketch aggregate + broadcast join — no range exchange, no window") {
    val scored = (0L until 600L)
      .map(i => (s"s${i % 3}", i, (i % 97).toDouble))
      .toDF("source", "doc_id", "score")
    val approx = graft.ext.Curation.bucketByScoreApprox(scored, buckets = 3)
    approx.collect()
    val plan = approx.queryExecution.executedPlan.toString
    // the quantile sketch must partial-aggregate map-side…
    assert(plan.contains("partial_percentile_approx"),
      s"sketch not map-side combined:\n$plan")
    // …thresholds ride back on a broadcast join…
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"threshold join not broadcast:\n$plan")
    // …and the corpus is never range-shuffled or windowed — removing
    // the exact rank's sort exchange is this operator's whole point
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      s"range exchange in the approx plan:\n$plan")
    assert(!plan.contains("Window"), s"window in the approx plan:\n$plan")
    // contrast control: the exact twin pays the two-phase rank — its
    // range exchange now runs inside prefixSums' pinned checkpoint
    // materialization (the at-scale determinism fix), so the visible
    // plan's evidence is the checkpointed shard frame it reads back
    val exact = graft.ext.Curation.bucketByScore(scored, buckets = 3)
    exact.collect()
    val exactPlan = exact.queryExecution.executedPlan.toString.toLowerCase
    assert(exactPlan.contains("__shard") && exactPlan.contains("existingrdd"),
      s"control: the exact plan should read the two-phase shard frame:\n$exactPlan")
    assert(!plan.contains("__shard"),
      "the approx plan must not touch the rank machinery at all")
  }

  test("exactGroupsPriority: the struct min_by is still a map-side partial aggregate") {
    val d = (0L until 400L)
      .map(i => (i, s"text ${i % 50}", i % 3))
      .toDF("doc_id", "text", "prio")
    val groups = graft.ext.Dedup.exactGroupsPriority(d, "prio")
    groups.collect()
    val plan = groups.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min_by"),
      s"priority keeper not map-side combined:\n$plan")
  }
}
