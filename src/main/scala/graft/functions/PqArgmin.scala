package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructType}

/** PQ code assignment as ONE whole-stage-codegen expression: argmin over
  * a cid-sorted candidate array of `d2 = −2·(sub·cvec) + ‖cvec‖²`, ties
  * (and the all-NaN row) to the first — i.e. smallest — cid.
  *
  * `left` = the sub-vector (array&lt;double&gt;), `right` = the
  * per-segment candidate array (array&lt;struct&lt;cid: int,
  * cvec: array&lt;double&gt;, cn: double&gt;&gt;, ascending cid, `cn`
  * the PRECOMPUTED ‖cvec‖² — computed once per codebook row by
  * [[DotProduct]] instead of once per corpus row per candidate, the
  * dominant per-row saving).
  *
  * Bit-compatibility with the interpreted `aggregate(...)` fold it
  * replaces ([[graft.ext.Similarity]]'s encode/assign hot path, and the
  * `min_by` spelling before that): the dot runs left-to-right like
  * [[DotProduct]]; `d2 = -2.0 * dot + cn` is the same two IEEE ops on
  * the same operands; the fold scans ascending cid with strict `<` from
  * a +∞ accumulator, so the first minimum wins and a NaN d2 (NaN < x is
  * false) never displaces the accumulator — an all-NaN row keeps the
  * first cid exactly like the fold's init. The ExtSpec parity test pins
  * expression-vs-fold equality on the fixture; the hash-exact PQ gates
  * (s08/s09/s12) pin it end-to-end.
  *
  * The interpreted fold evaluated two higher-order lambdas (aggregate's
  * accumulator struct + a dot per candidate) per (row × candidate) —
  * at k=256 candidates that is the encode scan's entire per-row cost;
  * this expression is one allocation-free primitive loop inside the
  * row's codegen stage (the [[DotProduct]] precedent).
  *
  * Null handling: null sub or null cands → null (BinaryExpression
  * null-intolerance); an EMPTY cands array → null, matching the fold's
  * `element_at(cands, 1)` null seed. Struct elements and cvec arrays are
  * codebook-built and never null.
  *
  * The candidate struct is read by POSITION, so [[checkInputDataTypes]]
  * pins both input types at analysis time: a `long` cid or a missing or
  * reordered field fails the query instead of reading wrong bytes.
  */
case class PqArgmin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  // an empty candidate array yields null even for non-null inputs
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def doubles(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val candsOk = right.dataType match {
      case ArrayType(StructType(Array(cid, cvec, cn)), _) =>
        cid.dataType == IntegerType && doubles(cvec.dataType) &&
          cn.dataType == DoubleType
      case _ => false
    }
    if (!doubles(left.dataType))
      TypeCheckFailure(
        s"pq_argmin sub must be array<double>, got ${left.dataType.simpleString}")
    else if (!candsOk)
      TypeCheckFailure("pq_argmin cands must be array<struct<cid: int, " +
        s"cvec: array<double>, cn: double>>, got ${right.dataType.simpleString}")
    else TypeCheckSuccess
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val sub = a.asInstanceOf[ArrayData]
    val cands = b.asInstanceOf[ArrayData]
    val k = cands.numElements()
    if (k == 0) return null
    val d = sub.numElements()
    var bestD2 = Double.PositiveInfinity
    var bestCid = cands.getStruct(0, 3).getInt(0)
    var j = 0
    while (j < k) {
      val cand = cands.getStruct(j, 3)
      val cvec = cand.getArray(1)
      val n = math.min(d, cvec.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) { dot += sub.getDouble(i) * cvec.getDouble(i); i += 1 }
      val d2 = -2.0 * dot + cand.getDouble(2)
      if (d2 < bestD2) { bestD2 = d2; bestCid = cand.getInt(0) }
      j += 1
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val d = ctx.freshName("d")
      val n = ctx.freshName("n")
      val cand = ctx.freshName("cand")
      val cvec = ctx.freshName("cvec")
      val dot = ctx.freshName("dot")
      val d2 = ctx.freshName("d2")
      val bestD2 = ctx.freshName("bestD2")
      val bestCid = ctx.freshName("bestCid")
      s"""
         |int $k = $b.numElements();
         |if ($k == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $d = $a.numElements();
         |  double $bestD2 = Double.POSITIVE_INFINITY;
         |  int $bestCid = $b.getStruct(0, 3).getInt(0);
         |  for (int $j = 0; $j < $k; $j++) {
         |    org.apache.spark.sql.catalyst.InternalRow $cand =
         |      $b.getStruct($j, 3);
         |    org.apache.spark.sql.catalyst.util.ArrayData $cvec =
         |      $cand.getArray(1);
         |    int $n = java.lang.Math.min($d, $cvec.numElements());
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += $a.getDouble($i) * $cvec.getDouble($i);
         |    }
         |    double $d2 = -2.0 * $dot + $cand.getDouble(2);
         |    if ($d2 < $bestD2) { $bestD2 = $d2; $bestCid = $cand.getInt(0); }
         |  }
         |  ${ev.value} = $bestCid;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqArgmin =
    copy(left = newLeft, right = newRight)
}
