package graft.cluster

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Nearest-centroid argmin over `dims` dimensions as ONE compiled
  * per-row kernel — the map-only form of Lloyd's assign step (round-21,
  * VERDICT item 3).
  *
  * `left` = the corpus vector (`array<double>`), `right` = the centroid
  * table collapsed into a single row (a broadcast row, or a literal
  * when the centroids are driver-held):
  * `array<struct<cid int, cvec array<double>>>`, sorted ascending by
  * cid. Returns `struct(cid, d2)` — the centroid with the minimum
  * squared distance, ties to the SMALLEST cid. The per-row code is
  * [[ArgminDist2.nearest]], which [[PortableKMeans.assign]]'s Lloyd
  * rounds also call directly inside their one job per round, so the
  * rounds and the final projection pick winners with the same code.
  *
  * Why a custom expression and not composition (the ShingleMinHash /
  * DotProduct rationale): the explode + groupBy(id) argmin this
  * replaces re-shuffles the whole k×-exploded corpus once per Lloyd
  * round, and the round-20 attempt to unroll k·dims subtraction terms
  * into one projection overflowed janino's method limit (16 codegen
  * fallbacks, 7.2 s → 18.3 s). A LOOP in generated code is ~30 lines
  * regardless of k·dims, keeps whole-stage codegen intact, and makes
  * assign a pure projection: zero corpus shuffles.
  *
  * Bit-parity with the aggregate form it replaces
  * (`min(struct(dist2Unrolled(v, cvec, dims), cid))`), pinned in
  * PortableMlSpec:
  *  - d2 accumulates left-to-right from +0.0 — identical to
  *    `reduce(_ + _)` over the unrolled terms because the first term
  *    is a square (never −0.0), so `0.0 + t1 == t1` bit-exactly;
  *  - candidates are visited in ascending-cid order with a strict
  *    `Double.compare < 0` replacement rule — the first minimum wins,
  *    exactly the lexicographic `min(struct(d2, cid))` winner (d2 is a
  *    non-negative sum, so the −0.0/NaN corners of double ordering are
  *    unreachable);
  *  - a vector or centroid shorter than `dims` (or carrying a null
  *    element) would have produced a null d2 through `element_at`'s
  *    out-of-bounds null — here the centroid is skipped (null d2 loses
  *    every `min`), and if every candidate is skipped the result is
  *    null, as the all-null aggregate was.
  */
case class ArgminDist2(left: Expression, right: Expression, dims: Int)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _),
          ArrayType(StructType(Array(
            StructField(_, IntegerType, _, _),
            StructField(_, ArrayType(DoubleType, _), _, _))), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<struct<int, array<double>>>), " +
        s"got ${l.simpleString(10)} and ${r.simpleString(10)}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_argmin_dist2"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cents = b.asInstanceOf[ArrayData]
    val d2 = new Array[Double](1)
    val j = ArgminDist2.nearest(a.asInstanceOf[ArrayData], cents, dims, d2)
    if (j < 0) null
    else new GenericInternalRow(Array[Any](cents.getStruct(j, 2).getInt(0), d2(0)))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cents) => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val cr = ctx.freshName("cr")
      val cv = ctx.freshName("cv")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val ok = ctx.freshName("ok")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val found = ctx.freshName("found")
      val rowCls = classOf[GenericInternalRow].getName
      s"""
         |if ($v.numElements() < $dims) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $best = -1; double $bestD = 0.0; boolean $found = false;
         |  final int $k = $cents.numElements();
         |  for (int $j = 0; $j < $k; $j++) {
         |    if ($cents.isNullAt($j)) continue;
         |    org.apache.spark.sql.catalyst.InternalRow $cr = $cents.getStruct($j, 2);
         |    org.apache.spark.sql.catalyst.util.ArrayData $cv = $cr.getArray(1);
         |    if ($cv.numElements() < $dims) continue;
         |    double $s = 0.0; boolean $ok = true;
         |    for (int $i = 0; $i < $dims && $ok; $i++) {
         |      if ($v.isNullAt($i) || $cv.isNullAt($i)) { $ok = false; break; }
         |      double $d = $v.getDouble($i) - $cv.getDouble($i);
         |      $s += $d * $d;
         |    }
         |    if ($ok && (!$found || java.lang.Double.compare($s, $bestD) < 0)) {
         |      $found = true; $bestD = $s; $best = $cr.getInt(0);
         |    }
         |  }
         |  if (!$found) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = new $rowCls(new Object[]{
         |      java.lang.Integer.valueOf($best), java.lang.Double.valueOf($bestD)});
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgminDist2 =
    copy(left = newLeft, right = newRight)
}

object ArgminDist2 {
  /** The per-row kernel shared by [[ArgminDist2.nullSafeEval]] and the
    * driver-held Lloyd loop of [[PortableKMeans.assign]] (the generated
    * code in `doGenCode` is its Java transcription): the POSITION in
    * `cents` of the nearest centroid (ties to the first, i.e. the
    * smallest cid), with its squared distance written to `d2(0)`; −1
    * when `v` is shorter than `dims` or no centroid is comparable. */
  def nearest(v: ArrayData, cents: ArrayData, dims: Int, d2: Array[Double]): Int = {
    if (v.numElements() < dims) return -1
    var best = -1
    var bestD = 0.0
    var j = 0
    val k = cents.numElements()
    while (j < k) {
      if (!cents.isNullAt(j)) {
        val cv = cents.getStruct(j, 2).getArray(1)
        if (cv.numElements() >= dims) {
          var s = 0.0
          var ok = true
          var i = 0
          while (i < dims && ok) {
            if (v.isNullAt(i) || cv.isNullAt(i)) ok = false
            else {
              val d = v.getDouble(i) - cv.getDouble(i)
              s += d * d
            }
            i += 1
          }
          if (ok && (best < 0 || java.lang.Double.compare(s, bestD) < 0)) {
            bestD = s; best = j
          }
        }
      }
      j += 1
    }
    d2(0) = bestD
    best
  }

  /** Column factory: `argmin(v, cents)` with `cents` the sorted
    * single-row centroid array — see the class doc. */
  def apply(v: Column, cents: Column, dims: Int): Column =
    ColumnBridge.column(ArgminDist2(
      ColumnBridge.expression(v), ColumnBridge.expression(cents), dims))
}
