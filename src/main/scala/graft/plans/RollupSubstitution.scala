package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, MaxBy, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.SparkSession

import graft.model.AggregationMethod
import graft.store.MetricStore

/** Whisper's archive selection (whisper.py:947-954) as a Catalyst
  * optimizer rule: an aggregation that re-derives a coarser rollup from
  * level-0 points is rewritten to SCAN the store's precomputed rollup
  * level instead — materialized-view substitution for the rollup
  * hierarchy. SUBSTITUTION.md is the behaviour map.
  *
  * The decision is made in two steps, each written once:
  *  1. the time-key match ([[matchTimeKey]]): the Aggregate groups by
  *     exactly (metric, time key) over a Project/Filter chain down to
  *     THIS store's level-0 scan. Resolved to the scan's own columns, the
  *     time key is an alignment `interval - interval % S`, an
  *     epoch-aligned `date_trunc`, or a tumbling `window(ts, "S
  *     seconds")`, and every aggregate output takes a role — metric,
  *     time, kernel, count — by exprId;
  *  2. the output-role binding ([[substitute]]) at one of three top
  *     nodes — the Aggregate, a gate Filter over it, or a pass-through
  *     Project over that Filter — chooses the level with step S and the
  *     policy's kernel, and rebuilds every output from the level's
  *     columns under its own name and exprId, so parents are untouched.
  *
  * Correctness note: substitution is semantics-preserving only because
  * the store maintains level-S with EXACTLY this aggregation (same xff
  * gate, same kernel) — so a query whose step matches a level but whose
  * kernel differs is deliberately NOT rewritten. An ungated query
  * substitutes only on an xff == 0 policy (where rollup rows are plain
  * window aggregates); a query that restates the store's own gate over
  * its count output substitutes at any xff.
  *
  * Enable per session via `RollupSubstitution.register(spark, store)`
  * (uses `spark.experimental.extraOptimizations`, no session rebuild).
  */
final case class RollupSubstitution(spark: SparkSession, store: MetricStore)
    extends Rule[LogicalPlan] {
  import RollupSubstitution._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case node => topOf(node)
      .flatMap(top => substitute(top).orElse(rewriteMultiPolicy(top)))
      .getOrElse(node)
  }

  /** The [[Top]] rooted at `node`, if `node` is one of the three shapes. */
  private def topOf(node: LogicalPlan): Option[Top] = node match {
    case a: Aggregate =>
      Some(Top(a, None, a.output, c => a.copy(child = c)))
    case f @ Filter(cond, a: Aggregate) =>
      Some(Top(a, Some(cond), a.output, c => f.copy(child = a.copy(child = c))))
    case p @ Project(outs, f @ Filter(cond, a: Aggregate)) =>
      Some(Top(a, Some(cond), outs,
        c => p.copy(child = f.copy(child = a.copy(child = c)))))
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** The one policy of a policy-uniform store, or None. Substitution
    * validates ONE policy's xff/steps/kernel, but the level_i directories
    * are shared by every metric in the store (MetricStore.updateMany
    * supports heterogeneous per-metric policies). Substituting a level
    * scan after checking only one metric's policy would return wrong
    * grids for metrics with a different one — so require the store to be
    * policy-uniform, mirroring upsertRollups' guard; on non-uniform
    * stores [[pinnedPolicy]] still substitutes queries whose predicates
    * pin the scan to metrics of a single policy.
    *
    * Also requires the store's levels to still BE the cascade of the
    * current level-0 table: points that routed directly into coarser
    * archives (too old for level 0), external rollup upserts, value
    * transforms, per-level merges/fills, and policy edits all make a
    * level scan disagree with a level-0 aggregation — for EVERY kernel —
    * and the store marks that divergence.
    */
  private def uniformPolicy: Option[graft.model.RetentionPolicy] = {
    if (!store.rollupsDerivedFromLevel0) return None
    val ps = store.policies().values.toSeq.distinct
    if (ps.size == 1) ps.headOption else None
  }

  /** The metric names a predicate set PINS the scan to: the names of the
    * first conjunct that is an equality / IN / OR-of-equalities on the
    * metric column with string literals (a conjunct restricts the scan
    * to a subset of its names; any non-pinning OR-arm un-pins its Or).
    * None when no conjunct pins.
    */
  private def pinnedNames(preds: Seq[Expression],
                          metricId: Option[ExprId]): Option[Seq[String]] = {
    def isMetric(e: Expression): Boolean = e match {
      case a: Attribute => metricId.contains(a.exprId)
      case _ => false
    }
    def strLit(e: Expression): Option[String] = e match {
      case Literal(v, _: org.apache.spark.sql.types.StringType) if v != null =>
        Some(v.toString)
      case _ => None
    }
    def names(conj: Expression): Option[Seq[String]] = conj match {
      case EqualTo(a, l) if isMetric(a)       => strLit(l).map(Seq(_))
      case EqualTo(l, a) if isMetric(a)       => strLit(l).map(Seq(_))
      case EqualNullSafe(a, l) if isMetric(a) => strLit(l).map(Seq(_))
      case EqualNullSafe(l, a) if isMetric(a) => strLit(l).map(Seq(_))
      case In(a, ls) if isMetric(a) =>
        val ss = ls.map(strLit)
        if (ss.nonEmpty && ss.forall(_.isDefined)) Some(ss.flatten) else None
      case InSet(a, vs) if isMetric(a) =>
        Some(vs.toSeq.collect { case s if s != null => s.toString })
      case Or(x, y) =>
        for { nx <- names(x); ny <- names(y) } yield nx ++ ny
      case _ => None
    }
    preds.flatMap(names(_)).headOption
  }

  /** Heterogeneous stores (whisper's storage-schemas.conf: per-family
    * retention): substitution is still sound when the query's scan is
    * PINNED to metrics that all share one policy — the pinning conjunct
    * (an equality/IN on `metric` with string literals) restricts the
    * input to a subset of those names, every carried metric predicate is
    * reapplied on the substituted level scan, and each policy's cascade
    * writes its metrics' level-i rollups into the shared `level_i`
    * directory, so the pinned policy's level index + the carried metric
    * filter read exactly the pinned metrics' rollups. Names the store
    * never created contribute no rows on either side; at least one
    * pinned name must resolve to a policy, and all resolving names must
    * agree on it. OR-arms / IN-lists that mix policies refuse — the
    * substituted grid would be wrong for one family.
    */
  private def pinnedPolicy(preds: Seq[Expression],
                           leaf: LogicalPlan): Option[graft.model.RetentionPolicy] = {
    if (!store.rollupsDerivedFromLevel0) return None
    val metricId = leaf.output.find(_.name == "metric").map(_.exprId)
    pinnedNames(preds, metricId).flatMap { ns =>
      val pols = store.policies()
      val found = ns.flatMap(pols.get).distinct
      if (found.size == 1) Some(found.head) else None
    }
  }

  /** Multi-policy pinned substitution: a pin whose names span N > 1
    * retention families refuses the single-policy path — but the
    * grouping includes `metric`, so the aggregate (and any per-group
    * xff gate above it) DISTRIBUTES over a disjoint partition of the
    * pinned names. Rewrite to the UNION of per-family copies of the
    * matched plan, each narrowed by a leading `metric IN (family
    * names)` conjunct that the normal machinery then substitutes with
    * that family's own level choice and carried pin — the Grafana
    * dashboard shape (panels mixing fast/slow metric families) that
    * previously fell back to a full level-0 scan.
    *
    * All-or-nothing: if any family's branch fails to substitute (no
    * matching level, kernel/gate mismatch, depth rule), the whole
    * rewrite refuses and the original single level-0 scan stands — a
    * split that still scans level-0 per branch would trade one scan
    * for N without buying anything. Unpinned heterogeneous reads still
    * refuse: this path only fires on an explicit multi-family pin.
    */
  private def rewriteMultiPolicy(top: Top): Option[LogicalPlan] = {
    val child = top.agg.child
    for {
      chain <- walkChain(child)
      ns <- pinnedNames(chain.preds, chain.col("metric"))
      // the store lookups read files: only after the plan walk matched
      if store.rollupsDerivedFromLevel0 && uniformPolicy.isEmpty
      // the child's own output that IS the leaf's metric column
      m <- child.output.find(chain.is(_, "metric"))
      pols = store.policies()
      families = ns.distinct
        .flatMap(n => pols.get(n).map(_ -> n))
        .groupBy(_._1).toSeq
        .map { case (p, xs) => (p, xs.map(_._2).sorted) }
        .sortBy(_._2.head)
      if families.size >= 2
      branches = families.map { case (_, names) =>
        // the narrowing conjunct lands FIRST in the walked preds, so the
        // branch's pinnedPolicy resolves its one family; it is
        // metric-only, so commutingPreds carries it onto the substituted
        // level scan
        apply(top.rebuild(Filter(
          In(m, names.map(Literal.create(_,
            org.apache.spark.sql.types.StringType))), child)))
      }
      // all-or-nothing: every branch must have dropped its level-0 scan
      // for the union to beat the original plan
      if branches.forall(_.find(isLevel0Leaf).isEmpty)
    } yield branches.reduce(Union(_, _))
  }

  /** The store cascade computes level i from level i-1 (matching
    * whisper.py:858-875), so a level>=2 Average VALUE is an avg-of-avgs —
    * it differs from the query's true average over level-0 points
    * whenever subwindow point counts vary. Sum/Max/Min/Last cascade
    * exactly (missing subwindows contribute nothing; extrema and
    * chronological-last compose), but ONLY under the xff==0 gate the
    * non-gated paths already require: an xff>0 gate at depth>=2 counts
    * known level-(i-1) rows, not known level-0 points, so the surviving
    * row sets can differ for any kernel.
    *
    * Deep Average IS substitutable when the level carries exact
    * contribution counts (schema with known/vsum, no degraded writers):
    * vsum/known reconstructs the true level-0 average per window — the
    * substituted scan then projects that instead of `value` (see
    * [[substitutedScan]]).
    */
  private def depthOk(levelIdx: Int, kernel: AggregationMethod, xff: Float): Boolean =
    levelIdx == 1 ||
      (xff == 0f && (kernel != AggregationMethod.Average || exactCounts(levelIdx)))

  /** Level tables ≥ 1 carry (known, vsum) contribution counts unless the
    * store predates them or a writer couldn't supply them (wsp import,
    * external rollups without counts, value transforms) — MetricStore
    * tracks that with its manifest's `counts_exact` flag.
    */
  private def exactCounts(levelIdx: Int): Boolean =
    store.countsExact && store.levelData(levelIdx).columns.contains("vsum")

  /** The substituted level scan: (metric, interval, value[, known]).
    * For deep Average the true level-0 average is reconstructed as
    * vsum/known; every other case reads the stored kernel value.
    */
  private def substitutedScan(levelIdx: Int, kernel: AggregationMethod,
                              withKnown: Boolean): LogicalPlan = {
    val base = store.levelData(levelIdx)
    val valueCol =
      if (levelIdx >= 2 && kernel == AggregationMethod.Average)
        (org.apache.spark.sql.functions.col("vsum") /
          org.apache.spark.sql.functions.col("known"))
          .as("value")
      else org.apache.spark.sql.functions.col("value")
    val cols = Seq(
      org.apache.spark.sql.functions.col("metric"),
      org.apache.spark.sql.functions.col("interval"),
      valueCol) ++
      (if (withKnown) Seq(org.apache.spark.sql.functions.col("known")) else Nil) ++
      // pb/tb LAST so every positional rebinding (indexes 0..3) is
      // untouched: they exist purely for [[applyCarried]]'s partition
      // pruning and are dropped by the output projection otherwise
      Seq(org.apache.spark.sql.functions.col("pb"),
        org.apache.spark.sql.functions.col("tb"))
    base.select(cols: _*).queryExecution.analyzed
  }

  private def doubleLit(e: Expression): Option[Double] = uncast(e) match {
    case Literal(v: Double, _) => Some(v)
    case Literal(v: Int, _)    => Some(v.toDouble)
    case Literal(v: Long, _)   => Some(v.toDouble)
    case _ => None
  }

  /** The substitutable level for a (step, kernel) pair, or None: a level
    * above 0 with that step must exist, the kernel must be the policy's,
    * and the depth rules must allow it.
    */
  private def matchedLevel(policy: graft.model.RetentionPolicy, step: Int,
                           kernel: AggregationMethod): Option[Int] = {
    val idx = policy.levels.indexWhere(_.secondsPerPoint == step)
    if (idx > 0 && kernel == policy.aggregation && depthOk(idx, kernel, policy.xff))
      Some(idx)
    else None
  }

  /** cond must be exactly {known > 0, known/slots >= xff} (any order).
    * EVERY conjunct must be one of those two recognized predicates — a
    * merely known-referencing extra conjunct (`known > 3`, a second
    * ratio with different slots/xff) would be silently dropped by the
    * substitution, returning rows the original query excludes.
    */
  private def gateMatches(cond: Expression, knownId: ExprId,
                          slots: Int, xff: Float): Boolean = {
    def isKnown(e: Expression): Boolean = uncast(e) match {
      case a: Attribute => a.exprId == knownId
      case _ => false
    }
    def isPositiveGate(e: Expression): Boolean = e match {
      case GreaterThan(k, z) => isKnown(k) && longLit(z).contains(0L)
      case _ => false
    }
    def isXffGate(e: Expression): Boolean = e match {
      case GreaterThanOrEqual(Divide(k, s, _), x) =>
        isKnown(k) && doubleLit(s).contains(slots.toDouble) &&
          doubleLit(x).contains(xff.toDouble)
      case _ => false
    }
    val cs = conjuncts(cond)
    cs.exists(isPositiveGate) && cs.exists(isXffGate) &&
      cs.forall(c => isPositiveGate(c) || isXffGate(c))
  }

  /** The [[Chain]] below `child`, or None if it does not end at this
    * store's level-0 scan.
    */
  private def walkChain(child: LogicalPlan): Option[Chain] = {
    val aliases = scala.collection.mutable.Map[ExprId, Expression]()
    val preds = Seq.newBuilder[Expression]
    def walk(p: LogicalPlan): Option[LogicalPlan] = p match {
      case Project(plist, c) =>
        aliases ++= plist.collect { case a: Alias => a.exprId -> a.child }
        walk(c)
      case Filter(cond, c) =>
        preds ++= conjuncts(cond)
        walk(c)
      case leaf if isLevel0Leaf(leaf) => Some(leaf)
      case _ => None
    }
    def resolve(e: Expression): Expression = {
      var cur = e
      var prev: Expression = null
      while (prev == null || !cur.fastEquals(prev)) {
        prev = cur
        cur = cur.transformUp {
          case a: Attribute if aliases.contains(a.exprId) => aliases(a.exprId)
        }
      }
      cur
    }
    walk(child).map(leaf => Chain(leaf, preds.result().map(resolve), resolve))
  }

  /** Step 1, the time-key match. The Aggregate groups by exactly two keys
    * over a [[walkChain]] chain: one resolves to the leaf's own `metric`
    * column, the other is a time key over its own `interval` column
    * ([[timeKeyOf]]). Every aggregate output must then take a role: the
    * metric key, the time key or one field of a window struct (the grid
    * join's `window.start`), the one kernel ([[kernelOf]]), or a
    * `count(value)`. An output that wraps a kernel (`round(avg(value),
    * 2)`) or computes anything else takes no role and refuses the match —
    * substituting the raw rollup value would drop the wrapper.
    */
  private def matchTimeKey(agg: Aggregate): Option[KeyMatch] = for {
    Seq(g1, g2) <- Some(agg.groupingExpressions)
    chain <- walkChain(agg.child)
    intervalId <- chain.col("interval")
    (k1, k2) = (chain.resolve(g1), chain.resolve(g2))
    (metricKey, timeKey) <- Seq((k1, k2), (k2, k1)).find(k => chain.is(k._1, "metric"))
    (step, time) <- timeKeyOf(timeKey, intervalId)
    kernels = agg.aggregateExpressions.flatMap(ne => kernelOf(ne, chain).map(ne.exprId -> _))
    if kernels.size == 1
    roles = agg.aggregateExpressions.flatMap { ne =>
      val e = chain.resolve(ne match { case Alias(c, _) => c; case o => o })
      (if (ne.exprId == kernels.head._1) Some(KernelRole)
       else if (isCount(e, chain)) Some(CountRole)
       else if (e.semanticEquals(metricKey)) Some(MetricRole)
       else if (e.semanticEquals(timeKey)) Some(Role("time", l => time(l(1))))
       else e match {
         // one field of the window struct, e.g. the `window.start` a grid
         // join reads; only the window key is a struct
         case GetStructField(s, ord, _) if s.semanticEquals(timeKey) =>
           Some(Role("time", l => time(l(1)) match {
             case struct: CreateNamedStruct => struct.valExprs(ord)
           }))
         case _ => None
       }).map(ne.exprId -> _)
    }
    if roles.size == agg.aggregateExpressions.size
    if roles.count(_._2.name == "count") <= 1
  } yield KeyMatch(chain.leaf, chain.preds, step, kernels.head._2, roles.toMap)

  /** The time key's step, and how it is rebuilt from the level's
    * `interval` column, or None. Every reference must be the leaf's own
    * interval attribute. Three spellings:
    *  - align(S): `interval - interval % S` (or `(interval div S) * S`,
    *    `floor(interval / S) * S`) — rebuilt as the interval itself;
    *  - trunc(S): `date_trunc(unit, timestamp_seconds(interval))` for an
    *    epoch-aligned unit ([[truncStep]]) — rebuilt as
    *    timestamp_seconds(interval): level intervals are step-aligned, so
    *    truncation is the identity on them;
    *  - window(S): `window(ts, "S seconds")` over `ts =
    *    timestamp_seconds(interval)`, which the analyzer's TimeWindowing
    *    rewrite turns into a `named_struct(start, …, end, …)` alias in the
    *    chain ([[windowStructStep]]: tumbling, zero offset — sliding
    *    windows plan through Expand and never reach this shape) — rebuilt
    *    as (timestamp_seconds(interval), timestamp_seconds(interval + S)).
    */
  private def timeKeyOf(key: Expression,
                        intervalId: ExprId): Option[(Int, Expression => Expression)] =
    if (key.references.isEmpty || key.references.exists(_.exprId != intervalId)) None
    else alignStep(key).map(s => (s.toInt, (iv: Expression) => iv))
      .orElse(truncStep(key).map(s => (s, (iv: Expression) => SecondsToTimestamp(iv))))
      .orElse(windowStructStep(key, intervalId)
        .map(s => (s, (iv: Expression) => windowStructOf(iv, s))))

  private def windowStructOf(iv: Expression, step: Int): Expression =
    CreateNamedStruct(Seq(
      Literal("start"), SecondsToTimestamp(iv),
      Literal("end"), SecondsToTimestamp(Add(iv, Literal(step.toLong)))))

  /** The policy kernel an output computes over the leaf's own `value`
    * column, untransformed: avg, sum, max, min, or whisper's `last` —
    * chronologically last known — as max_by(value, interval) or
    * max_by(value, timestamp_seconds(interval)), both monotone in
    * interval.
    */
  private def kernelOf(ne: NamedExpression, chain: Chain): Option[AggregationMethod] = {
    def isValue(e: Expression) = chain.is(e, "value")
    def isTime(e: Expression) = chain.resolve(e) match {
      case SecondsToTimestamp(a) => chain.is(a, "interval")
      case a => chain.is(a, "interval")
    }
    ne match {
      case Alias(AggregateExpression(f, _, false, None, _), _) => f match {
        case Average(v, _) if isValue(v) => Some(AggregationMethod.Average)
        case Sum(v, _) if isValue(v) => Some(AggregationMethod.Sum)
        case Max(v) if isValue(v) => Some(AggregationMethod.Max)
        case Min(v) if isValue(v) => Some(AggregationMethod.Min)
        case MaxBy(v, ord) if isValue(v) && isTime(ord) => Some(AggregationMethod.Last)
        case _ => None
      }
      case _ => None
    }
  }

  private def isCount(e: Expression, chain: Chain): Boolean = e match {
    case AggregateExpression(Count(Seq(v)), _, false, None, _) => chain.is(v, "value")
    case _ => false
  }

  /** Step 2, the output-role binding at a [[Top]] node. Each output binds
    * by exprId ([[underlyingId]]: a bare attribute or a single-attribute
    * alias) to an aggregate output's role, in any order and under any
    * name — except the name of a DIFFERENT aggregate output: a
    * cross-renaming Project (metric and interval swapped) is refused
    * outright. The time key and the kernel appear exactly once, the
    * metric (which a grid join's column pruning may drop) and the count
    * at most once. Then:
    *  - a kept count needs the level's exact counts: level-i `known` is by
    *    construction the number of level-0 points in the window;
    *  - with no gate, the policy's xff must be 0 — xff=0 rollup rows are
    *    plain window aggregates, so every parent predicate sees the same
    *    input set, while an xff>0 level lacks the sub-gate windows;
    *  - with a gate, it must restate the store's own ([[gateMatches]]),
    *    at any xff: level-i rows are exactly the gated window aggregates.
    */
  private def substitute(top: Top): Option[LogicalPlan] = for {
    km <- matchTimeKey(top.agg)
    policy <- uniformPolicy.orElse(pinnedPolicy(km.preds, km.leaf))
    carried <- commutingPreds(km.preds, km.leaf, km.step)
    roles = top.outs.flatMap(ne => underlyingId(ne)
      .filter(id => top.agg.output.forall(a => a.name != ne.name || a.exprId == id))
      .flatMap(km.roles.get))
    if roles.size == top.outs.size
    n = (name: String) => roles.count(_.name == name)
    if n("kernel") == 1 && n("time") == 1 && n("metric") <= 1 && n("count") <= 1
    withKnown = n("count") == 1
    levelIdx <- matchedLevel(policy, km.step, km.kernel)
    if !withKnown || exactCounts(levelIdx)
    if top.gate.fold(policy.xff == 0f) { cond =>
      val slots = km.step / policy.levels.head.secondsPerPoint
      km.countId.exists(gateMatches(cond, _, slots, policy.xff))
    }
  } yield {
    val rel = substitutedScan(levelIdx, km.kernel, withKnown)
    Project(
      top.outs.zip(roles).map { case (ne, r) =>
        Alias(r.fromLevel(rel.output), ne.name)(exprId = ne.exprId)
      },
      applyCarried(rel, carried, km.leaf,
        store.bucketSeconds(policy.levels(levelIdx).secondsPerPoint)))
  }

  /** Epoch-aligned `date_trunc` units: truncation equals
    * `interval - interval % unitSeconds` ONLY for fixed-length units in a
    * UTC-resolved zone (offset zones shift hour/day boundaries off the
    * epoch grid; week truncates to Monday but the epoch is a Thursday;
    * month/year are variable-length) — everything else must not match.
    */
  private def truncUnitSeconds(unit: String): Option[Int] = unit match {
    case "second" => Some(1)
    case "minute" => Some(60)
    case "hour"   => Some(3600)
    case "day" | "dd" => Some(86400)
    case _ => None
  }

  private def zoneIsUtc(tz: Option[String]): Boolean = {
    val zid = tz.getOrElse(spark.sessionState.conf.sessionLocalTimeZone)
    try java.time.ZoneId.of(zid).normalized() == java.time.ZoneOffset.UTC
    catch { case _: java.time.DateTimeException => false }
  }

  /** A `date_trunc(unit, timestamp_seconds(interval))` grouping (the most
    * common hand-written dashboard spelling), or None if the unit is not
    * epoch-aligned, the zone is not UTC, or the base is not the scan's
    * interval column read as epoch seconds.
    */
  private def truncStep(e: Expression): Option[Int] = e match {
    case TruncTimestamp(Literal(fmt, _), base, tzId) if fmt != null =>
      for {
        secs <- truncUnitSeconds(
          fmt.toString.toLowerCase(java.util.Locale.ROOT))
        if zoneIsUtc(tzId)
        _ <- base match {
          case SecondsToTimestamp(a) => intervalAttr(a)
          // a SINGLE integral→timestamp cast is the seconds
          // interpretation too; deeper chains (e.g. long→string→
          // timestamp, which PARSES rather than converts) must not match
          case Cast(a, _: org.apache.spark.sql.types.TimestampType, _, _)
              if a.dataType == org.apache.spark.sql.types.LongType ||
                a.dataType == org.apache.spark.sql.types.IntegerType =>
            intervalAttr(a)
          case _ => None
        }
      } yield secs
    case _ => None
  }

  // THIS store's level-0 directory, scheme-normalized. Substituting must
  // never trigger on some OTHER store's level_0 scan — the rewrite would
  // splice this store's rollups into a different table's query.
  private lazy val level0Uri =
    new org.apache.hadoop.fs.Path(s"${store.root}/level_0").toUri.getPath

  private def isLevel0Leaf(p: LogicalPlan): Boolean = p match {
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case hfs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          hfs.location.rootPaths.nonEmpty &&
            hfs.location.rootPaths.forall(_.toUri.getPath == level0Uri)
        case _ => false
      }
    case _ => false
  }

  /** Classify carried predicates against the (metric, step-align)
    * grouping, returning the ones to reapply over the substituted scan —
    * or None if ANY predicate does not provably commute:
    *
    *   - deterministic, subquery-free predicates referencing ONLY the
    *     scan's `metric` column commute (metric is a group key — they
    *     select whole groups);
    *   - `interval >= L` / `interval < U` with step-aligned literals
    *     select whole windows (level-0 rows of window w have interval in
    *     [w, w+step), so aligned bounds cut exactly on window edges) —
    *     whisper's fetch range, which update/fetch align the same way
    *     (/root/reference/whisper.py:947-954 picks the archive, then
    *     fromInterval/untilInterval are step-aligned). The bound may be
    *     written in either domain: against the long column, or against a
    *     timestamp view of it (`ts >= timestamp'…'` on window edges,
    *     where ts = timestamp_seconds(interval) — the window()-chain
    *     resolves its `ts` alias to exactly that). Carried bounds are
    *     canonicalized to long-second comparisons so they reach the
    *     level scan as pushable parquet filters;
    *   - IsNotNull on any scan column is dropped, not carried: level
    *     rows are non-null by construction and a null value row joins no
    *     rollup anyway (count/kernels ignore nulls).
    *
    * Anything else — value predicates, unaligned or exclusive interval
    * bounds, non-deterministic or subquery predicates — vetoes the
    * substitution (the rewrite would silently change the input set).
    */
  private def commutingPreds(preds: Seq[Expression], leaf: LogicalPlan,
                             step: Int): Option[Seq[Expression]] = {
    val metricId = leaf.output.find(_.name == "metric").map(_.exprId)
    val intervalOut = leaf.output.find(_.name == "interval")
    val intervalId = intervalOut.map(_.exprId)
    def isIntervalNum(e: Expression): Boolean = uncast(e) match {
      case a: Attribute => intervalId.contains(a.exprId)
      case _ => false
    }
    // a timestamp-typed VIEW of the interval column: timestamp_seconds,
    // or a single integral→timestamp cast (both read the long as epoch
    // seconds; deeper chains may parse instead of convert — no match)
    def isIntervalTs(e: Expression): Boolean = e match {
      case SecondsToTimestamp(a: Attribute) => intervalId.contains(a.exprId)
      case Cast(a: Attribute, _: org.apache.spark.sql.types.TimestampType, _, _)
          if a.dataType == org.apache.spark.sql.types.LongType ||
            a.dataType == org.apache.spark.sql.types.IntegerType =>
        intervalId.contains(a.exprId)
      case _ => false
    }
    // The bound in epoch SECONDS, or None if `col`/`lit` is not an
    // (interval view, literal) pair in a single domain (shared literal
    // helpers: [[tsLitSeconds]], [[nonTemporalLongLit]]).
    def boundSeconds(colSide: Expression, litSide: Expression): Option[Long] =
      if (isIntervalTs(colSide)) tsLitSeconds(litSide)
      else if (isIntervalNum(colSide)) nonTemporalLongLit(litSide)
      else None
    def metricOnly(e: Expression): Boolean =
      e.deterministic &&
        !e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]) &&
        e.references.nonEmpty &&
        e.references.forall(a => metricId.contains(a.exprId))
    // aligned half-open bounds, canonicalized to long-second comparisons
    // over the leaf's interval attribute (applyCarried remaps that onto
    // the level scan, where it pushes down as a plain parquet filter).
    // Inclusive spellings (BETWEEN desugars to >= && <=) commute when the
    // NEXT second is window-aligned: intervals are integral, so
    // `col <= U` ⇔ `col < U+1` and `col > L` ⇔ `col >= L+1`.
    def alignedBound(e: Expression): Option[Expression] = {
      def incl(s: Long): Option[Long] =
        if ((s + 1) % step == 0) Some(s + 1) else None
      val canon: Option[(Boolean, Long)] = e match {
        case GreaterThanOrEqual(a, b) =>
          boundSeconds(a, b).map((true, _))                           // col >= L
            .orElse(boundSeconds(b, a).flatMap(incl).map((false, _))) // U >= col ⇔ col < U+1
        case LessThan(a, b) =>
          boundSeconds(a, b).map((false, _))                          // col < U
            .orElse(boundSeconds(b, a).flatMap(incl).map((true, _)))  // L < col ⇔ col >= L+1
        case LessThanOrEqual(a, b) =>
          boundSeconds(a, b).flatMap(incl).map((false, _))            // col <= U ⇔ col < U+1
            .orElse(boundSeconds(b, a).map((true, _)))                // L <= col
        case GreaterThan(a, b) =>
          boundSeconds(a, b).flatMap(incl).map((true, _))             // col > L ⇔ col >= L+1
            .orElse(boundSeconds(b, a).map((false, _)))               // U > col
        case _ => None
      }
      for {
        (isLower, s) <- canon
        if s % step == 0
        iv <- intervalOut
      } yield
        if (isLower) GreaterThanOrEqual(iv, Literal(s)) else LessThan(iv, Literal(s))
    }
    // whole-BLOCK equality selectors: `alignExpr(B) = s` / `date_trunc
    // (unit, ts) = s` select every window inside one B-wide block when B
    // is a multiple of the step and s is B-aligned (an unaligned s
    // selects nothing in the original — veto rather than canonicalize,
    // the recompute answers empty correctly). Carried as the half-open
    // [s, s+B) range over the level's interval.
    def blockEq(colSide: Expression, litSide: Expression): Option[Expression] = {
      val viaAlign = for {
        b <- alignStep(colSide)
        s <- nonTemporalLongLit(litSide)
      } yield (b, s)
      val viaTrunc = for {
        u <- truncStep(colSide)
        s <- tsLitSeconds(litSide)
      } yield (u.toLong, s)
      for {
        (block, s) <- viaAlign.orElse(viaTrunc)
        if block > 0 && block % step == 0 && s % block == 0
        iv <- intervalOut
      } yield And(GreaterThanOrEqual(iv, Literal(s)),
        LessThan(iv, Literal(s + block)))
    }
    def eqSelector(e: Expression): Option[Expression] = e match {
      case EqualTo(a, b) => blockEq(a, b).orElse(blockEq(b, a))
      // null-safe equality degenerates to plain equality here: the
      // matched column side (an alignment/truncation of the non-null
      // interval) is never null and the literal side is non-null
      case EqualNullSafe(a, b) => blockEq(a, b).orElse(blockEq(b, a))
      case _ => None
    }
    // isnotnull over the KEY columns (metric/interval, or
    // timestamp_seconds(interval) — TimeWindowing inserts isnotnull(ts)):
    // those never filter real rows. NOT over `value`: an all-null-value
    // window still materializes a level row with value=null, while
    // `WHERE value IS NOT NULL` removes its rows before aggregation —
    // dropping that predicate would resurrect the group.
    def keyAttr(a: Attribute): Boolean =
      metricId.contains(a.exprId) || intervalId.contains(a.exprId)
    // TimeWindowing's start/end arithmetic — ptc((ptc(ts) − ts%W…),
    // Long→Timestamp) over ts = timestamp_seconds(interval) — is
    // non-null whenever the interval is, so a grid join's key constraint
    // spelled over it filters nothing
    def windowPartNonNull(e0: Expression): Boolean = {
      val e = e0 match { case KnownNullable(c) => c; case c => c }
      e match {
        case PreciseTimestampConversion(inner, _, _) =>
          val bases = inner.collect {
            case PreciseTimestampConversion(t,
                _: org.apache.spark.sql.types.TimestampType, _) => t
          }
          bases.nonEmpty && bases.forall {
            case SecondsToTimestamp(a: Attribute) => keyAttr(a)
            case _ => false
          } && e.references.forall(keyAttr)
        case _ => false
      }
    }
    def droppable(e: Expression): Boolean = e match {
      case IsNotNull(x) => uncast(x) match {
        case a: Attribute => keyAttr(a)
        case SecondsToTimestamp(a: Attribute) => keyAttr(a)
        // constraint inference on a grid join's key adds isnotnull over
        // the GROUPING EXPRESSION itself — an alignment/truncation of a
        // non-null interval is never null, so it filters nothing
        case other => alignStep(other).nonEmpty || truncStep(other).nonEmpty ||
          windowPartNonNull(other)
      }
      case _ => false
    }
    // Some(Some(p)) = carry p; Some(None) = drop; None = veto
    val classified: Seq[Option[Option[Expression]]] = preds.map { p =>
      if (metricOnly(p)) Some(Some(p))
      else alignedBound(p).orElse(eqSelector(p)) match {
        case Some(c) => Some(Some(c))
        case None if droppable(p) => Some(None)
        case None => None
      }
    }
    if (classified.forall(_.isDefined)) Some(classified.flatten.flatten)
    else None
  }

  /** Reapply commuting predicates over the substituted level scan,
    * remapping the level-0 scan's metric/interval attributes to the
    * level's (level intervals are the window starts, so aligned bounds
    * and metric predicates carry over verbatim).
    */
  private def applyCarried(rel: LogicalPlan, preds: Seq[Expression],
                           leaf: LogicalPlan, bucketSecs: Long): LogicalPlan =
    if (preds.isEmpty) rel
    else {
      val metricId = leaf.output.find(_.name == "metric").map(_.exprId)
      val intervalId = leaf.output.find(_.name == "interval").map(_.exprId)
      val remapped = preds.map(_.transformUp {
        case a: Attribute if metricId.contains(a.exprId) => rel.output(0)
        case a: Attribute if intervalId.contains(a.exprId) => rel.output(1)
      })
      // metric pins prune PARTITION DIRECTORIES, not just row groups:
      // pb is a function of the metric name, so a pinned scan needs only
      // the pinned names' buckets — at scale the difference between
      // listing/reading every pb dir and one of them. The pb/tb columns
      // are exposed last on the substituted scan for exactly these
      // conjuncts; the output projection prunes them away again.
      val pbIn = for {
        ns <- pinnedNames(preds, metricId)
        pbAttr <- rel.output.find(_.name == "pb")
      } yield In(pbAttr, ns.map(store.pbOf).distinct.sorted.map(b => Literal(b)))
      // carried interval bounds prune TIME-bucket directories the same
      // way: tb = interval div bucketSecs (the writer's layout), so
      // interval >= L implies tb >= L div bucketSecs and interval < U
      // implies tb <= (U-1) div bucketSecs. `div` truncates toward zero
      // — only derive for non-negative epochs, where that IS floor (a
      // retention span of years narrows to the dashboard's hours).
      val ivAttr = rel.output.lift(1)
      val tbAttr = rel.output.find(_.name == "tb")
      val tbBounds: Seq[Expression] =
        if (bucketSecs <= 0 || tbAttr.isEmpty) Nil
        else remapped.flatMap(conjuncts).flatMap {
          case GreaterThanOrEqual(a: Attribute, Literal(l: Long, _))
              if ivAttr.exists(_.exprId == a.exprId) && l >= 0 =>
            Some(GreaterThanOrEqual(tbAttr.get, Literal(l / bucketSecs)))
          case LessThan(a: Attribute, Literal(u: Long, _))
              if ivAttr.exists(_.exprId == a.exprId) && u >= 1 =>
            Some(LessThanOrEqual(tbAttr.get, Literal((u - 1) / bucketSecs)))
          case _ => None
        }
      Filter((remapped ++ pbIn ++ tbBounds).reduce(And), rel)
    }

  /** Extract the tumbling-window step (seconds) from the TimeWindowing
    * struct, or None if any part deviates from the zero-offset tumbling
    * form over `timestamp_seconds(interval)`.
    */
  private def windowStructStep(structExpr: Expression,
                               intervalAttrId: ExprId): Option[Int] = structExpr match {
    case cns: CreateNamedStruct
        if cns.nameExprs.map { case Literal(s, _) => s.toString } == Seq("start", "end") =>
      val exprs = cns.valExprs
      val mods = exprs.flatMap(_.collect {
        case Remainder(_, Literal(w: Long, _), _) => w
        case Pmod(_, Literal(w: Long, _), _) => w
      }).distinct
      val lits = exprs.flatMap(_.collect { case Literal(v: Long, _) => v })
      val bases = exprs.flatMap(_.collect {
        case PreciseTimestampConversion(t, _: org.apache.spark.sql.types.TimestampType, _) => t
      })
      mods match {
        case Seq(w) if w > 0 && w % 1000000L == 0 &&
            lits.forall(v => v == 0L || v == w) &&
            bases.nonEmpty && bases.forall {
              case SecondsToTimestamp(a: Attribute) => a.exprId == intervalAttrId
              case _ => false
            } =>
          Some((w / 1000000L).toInt)
        case _ => None
      }
    case _ => None
  }

  /** Strip no-op casts so `floor(interval / 300L)` and spelling variants
    * reduce to one recognizable core.
    */
  private def uncast(e: Expression): Expression = e match {
    case Cast(child, _, _, _) => uncast(child)
    case other => other
  }

  /** A whole-second timestamp literal as epoch SECONDS. Timestamp
    * literals store MICROS — alignment checks must run on the converted
    * seconds, never the raw value (micros % step == 0 holds for
    * unaligned-second bounds whenever step divides 1e6, e.g. step=100);
    * sub-second instants cut inside a level-0 slot and never commute.
    * Shared by every bound/selector matcher so the unit conversion can
    * not drift between them.
    */
  private def tsLitSeconds(e: Expression): Option[Long] = e match {
    case Literal(micros: Long, _: org.apache.spark.sql.types.TimestampType)
        if micros % 1000000L == 0 =>
      Some(micros / 1000000L)
    case _ => None
  }

  /** A plain integral literal (possibly under residual casts) that is
    * NOT temporal — a TimestampType/NTZ/Date literal also carries a Long
    * payload, and reading it through [[longLit]] would silently treat
    * micros/days as seconds. Shared guard for the numeric-domain bound
    * and equality matchers.
    */
  private def nonTemporalLongLit(e: Expression): Option[Long] =
    uncast(e) match {
      case lit @ Literal(_, dt)
          if !dt.isInstanceOf[org.apache.spark.sql.types.TimestampType] &&
            !dt.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType] &&
            !dt.isInstanceOf[org.apache.spark.sql.types.DateType] =>
        longLit(lit)
      case _ => None
    }

  private def longLit(e: Expression): Option[Long] = uncast(e) match {
    case Literal(v: Long, _) => Some(v)
    case Literal(v: Int, _)  => Some(v.toLong)
    // constant folding rewrites `interval / 300L` to `interval / 300.0`
    case Literal(v: Double, _) if v.isWhole => Some(v.toLong)
    case Literal(v: java.math.BigDecimal, _)
        if v.stripTrailingZeros.scale <= 0 => Some(v.longValueExact)
    case _ => None
  }

  private def intervalAttr(e: Expression): Option[Attribute] = uncast(e) match {
    case a: Attribute if a.name == "interval" => Some(a)
    case _ => None
  }

  /** A step-S alignment of `interval`, in any of its common spellings:
    *   interval - interval % S
    *   (interval div S) * S
    *   floor(interval / S) * S
    */
  private def alignStep(e: Expression): Option[Long] = uncast(e) match {
    case Subtract(l, Pmod(l2, s, _), _) =>
      for (_ <- intervalAttr(l); a <- intervalAttr(l2); st <- longLit(s)) yield st
    case Subtract(l, Remainder(l2, s, _), _) =>
      for (_ <- intervalAttr(l); a <- intervalAttr(l2); st <- longLit(s)) yield st
    case Multiply(q, s, _) =>
      (uncast(q) match {
        case IntegralDivide(l, s2, _) =>
          for (_ <- intervalAttr(l); st2 <- longLit(s2)) yield st2
        case Floor(Divide(l, s2, _)) =>
          for (_ <- intervalAttr(l); st2 <- longLit(s2)) yield st2
        case _ => None
      }).filter(st2 => longLit(s).contains(st2))
    case _ => None
  }

  /** The exprId a pass-through output ultimately references (bare
    * attribute or single-attribute alias).
    */
  private def underlyingId(ne: NamedExpression): Option[ExprId] = ne match {
    case a: Attribute => Some(a.exprId)
    case Alias(a: Attribute, _) => Some(a.exprId)
    case _ => None
  }
}

object RollupSubstitution {
  /** A node the rule substitutes at: the Aggregate itself (ungated), a
    * `Filter(gate, Aggregate)` keeping every aggregate output, or a
    * `Project(outs, Filter(gate, Aggregate))` that picks and renames
    * them. Ungated shapes are replaced at the Aggregate, so any parent —
    * an arbitrary HAVING included — rides the substituted scan; gated
    * shapes are replaced at the gate node. `rebuild` puts a new plan
    * under the Aggregate ([[rewriteMultiPolicy]]'s per-family branches).
    */
  private final case class Top(agg: Aggregate, gate: Option[Expression],
                               outs: Seq[NamedExpression],
                               rebuild: LogicalPlan => LogicalPlan)

  /** The Project/Filter chain between an Aggregate and THIS store's
    * level-0 scan: the leaf, the chain's Filter conjuncts resolved to leaf
    * terms (for [[commutingPreds]] to judge: group-key metric predicates
    * and window-edge-aligned interval bounds move onto the substituted
    * scan, anything else — `WHERE value > 0`, unaligned bounds — vetoes),
    * and the resolver that rewrites an expression over the chain's
    * aliases into leaf terms. Every Project is walked, computed aliases
    * included — the analyzer's TimeWindowing struct and `ts =
    * timestamp_seconds(interval)` land there — so a role binds only by
    * exprId AFTER resolving: a value-rewriting or column-swapping Project
    * resolves to a term that is not the leaf's own column and matches no
    * role. A join or any other node ends the walk without a match.
    */
  private final case class Chain(leaf: LogicalPlan, preds: Seq[Expression],
                                 resolve: Expression => Expression) {
    def col(name: String): Option[ExprId] =
      leaf.output.find(_.name == name).map(_.exprId)
    /** `e`, resolved to leaf terms, IS the leaf's own column `name`. */
    def is(e: Expression, name: String): Boolean = resolve(e) match {
      case a: Attribute => col(name).contains(a.exprId)
      case _ => false
    }
  }

  /** An aggregate output's role, and how the substituted level scan —
    * columns (metric, interval, value[, known]) — rebuilds it.
    */
  private final case class Role(name: String, fromLevel: Seq[Attribute] => Expression)
  private val MetricRole = Role("metric", _(0))
  private val KernelRole = Role("kernel", _(2))
  private val CountRole = Role("count", _(3))

  /** Step 1's result: the level-0 leaf, the chain's predicates in leaf
    * terms, the time key's step, the kernel, and every aggregate output's
    * role by exprId.
    */
  private final case class KeyMatch(leaf: LogicalPlan, preds: Seq[Expression],
                                    step: Int, kernel: AggregationMethod,
                                    roles: Map[ExprId, Role]) {
    def countId: Option[ExprId] =
      roles.collectFirst { case (id, r) if r.name == "count" => id }
  }

  /** Inject into an existing session's optimizer. Idempotent per
    * (session, store root), and meant to stay registered: every new
    * action on a returned Dataset builds a FRESH QueryExecution, and the
    * optimizer reads extraOptimizations at that moment — deregistering
    * after building a frame silently hands its future executions the
    * unsubstituted recompute plan (a `.count()` later would re-aggregate
    * level-0 even though the build-time plan check passed).
    */
  def register(spark: SparkSession, store: MetricStore): Unit = {
    val already = spark.experimental.extraOptimizations.exists {
      case r: RollupSubstitution =>
        (r.spark eq spark) && r.store.root == store.root
      case _ => false
    }
    if (!already)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RollupSubstitution(spark, store)
  }
}
