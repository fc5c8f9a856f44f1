package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused argmin/argmax loops over a broadcast (cid, cv) codeword array —
  * the assign hot spots of the ANN train/audit family.
  *
  * The formulations these replace,
  *
  *   array_max(transform(__cents, c -> struct(
  *     round(graft_dot(v, c.cv) /
  *       (sqrt(graft_dot(v, v)) * sqrt(graft_dot(c.cv, c.cv))), 6), -c.cid)))
  *
  *   array_min(transform(element_at(__cmap, s), c -> struct(
  *     round(graft_l2sq(sv, c.cv), 6), c.cid)))
  *
  * evaluate an INTERPRETED lambda per codeword per row (struct allocation,
  * boxed comparisons), recompute `graft_dot(v, v)` once per CODEWORD, and
  * pay Spark `round(x, 6)`'s BigDecimal.valueOf (a Double.toString + parse)
  * per codeword per row. Each fused expression compiles to one primitive
  * loop: k codegen dot/l2sq folds, one query-norm fold, and the round6 via
  * [[VecArgBest.round6]] — [[Round12Long]]'s proven guarded `rint` fast
  * path at scale 6 (exact BigDecimal HALF_UP fallback near halves and
  * past 2·10¹²/10⁶; same proof, double output). Bit parity with the
  * replaced Column formulations is pinned by VecArgBestSpec, including the
  * ordering corner cases below.
  *
  * Ordering semantics REPLICATE Spark's struct array_max/array_min
  * exactly: similarities/distances compare with NaN largest and
  * -0.0 == 0.0 (Spark's double ordering), a null similarity/distance
  * sorts FIRST (so it loses an argmax and wins an argmin, as the struct
  * comparison does), ties break to the SMALLEST cid, and the winner's
  * ORIGINAL sim bits are returned (array_max returns the winning struct,
  * not a normalized copy). A null vector / null codeword array → null;
  * an empty codeword array → null (array_max/min of an empty array).
  * Per-codeword dot/l2sq inherit [[FloatVecDot]]'s contract: null on
  * length mismatch or any null element — which flows into the null-sim
  * ordering above, never an error, exactly as the fold behaved.
  */
object VecArgBest {

  /** Spark `round(y, 6)`-on-double semantics (NaN/±Inf propagate; else
    * `BigDecimal.valueOf(y).setScale(6, HALF_UP).doubleValue()`) with the
    * [[Round12Long]] guard: `Math.rint(y·10⁶)/10⁶` when y·10⁶ is provably
    * away from a half and under 2·10¹² — both paths then pick the same
    * integer m, and m/10⁶ (correctly-rounded double division by the exact
    * 10⁶) equals the decimal m·10⁻⁶'s nearest double. A zero result is
    * +0.0 on both paths: BigDecimal has no signed zero, while `rint` of a
    * tiny negative is -0.0, which `+ 0.0` turns into +0.0.
    */
  def round6(y: Double): Double = {
    if (java.lang.Double.isNaN(y) || java.lang.Double.isInfinite(y)) return y
    val f = y * 1.0e6
    val fl = Math.floor(f)
    if (!(Math.abs(f) < 2.0e12) || Math.abs(f - fl - 0.5) < 1.0e-3)
      java.math.BigDecimal.valueOf(y)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    else Math.rint(f) / 1.0e6 + 0.0
  }

  /** [[FloatVecDot]]'s fold, verbatim; null (boxed) on length mismatch or
    * any null element.
    */
  def dot(x: ArrayData, xd: Boolean, y: ArrayData, yd: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      acc += xv * yv
      i += 1
    }
    acc
  }

  /** [[FloatVecL2sq]]'s fold, verbatim; same null contract as [[dot]]. */
  def l2sq(x: ArrayData, xd: Boolean, y: ArrayData, yd: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      val d = xv - yv
      acc += d * d
      i += 1
    }
    acc
  }

  /** Spark's ascending double ordering over nullable sims: null first
    * (smallest), -0.0 == 0.0, NaN largest.
    */
  def simCompare(a: java.lang.Double, b: java.lang.Double): Int = {
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else {
      val x = if (a.doubleValue() == 0.0) 0.0 else a.doubleValue()
      val y = if (b.doubleValue() == 0.0) 0.0 else b.doubleValue()
      java.lang.Double.compare(x, y)
    }
  }

  /** Argmax of round6 cosine over the (cid, cv) array; null for an empty
    * array (ordering/null semantics in the object doc). Returns the
    * winning (sim, cid) row.
    */
  def bestCos(cents: ArrayData, centsDouble: Boolean, v: ArrayData,
              vDouble: Boolean): InternalRow = {
    val m = cents.numElements()
    if (m == 0) return null
    val nv = dot(v, vDouble, v, vDouble)
    val qn = if (nv == null) null
      else java.lang.Double.valueOf(Math.sqrt(nv.doubleValue()))
    var bestSim: java.lang.Double = null
    var bestCid = 0L
    var found = false
    var i = 0
    while (i < m) {
      // a null struct element cannot arise from collect_list; fail loudly
      // rather than invent an ordering for it (the TriProducts12 pattern)
      if (cents.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_cos_best: null codeword struct at index $i")
      val c = cents.getStruct(i, 2)
      val cid = c.getLong(0)
      val sim: java.lang.Double =
        if (c.isNullAt(1) || qn == null) null
        else {
          val cv = c.getArray(1)
          val dvc = dot(v, vDouble, cv, centsDouble)
          val nc = dot(cv, centsDouble, cv, centsDouble)
          if (dvc == null || nc == null) null
          else {
            val div = qn.doubleValue() * Math.sqrt(nc.doubleValue())
            // the replaced Column fold ran under ANSI mode (the session
            // default), where a double division by zero THROWS — keep a
            // zero-norm vector loud rather than inventing a NaN ordering
            // the fold never produced
            if (div == 0.0) throw new IllegalArgumentException(
              s"graft_cos_best: zero-norm vector (cid $cid) — cosine " +
                "assignment is undefined; the ANSI division the fused loop " +
                "replaces raised DIVIDE_BY_ZERO here")
            round6(dvc.doubleValue() / div)
          }
        }
      val cmp = if (!found) 1 else simCompare(sim, bestSim)
      if (cmp > 0 || (cmp == 0 && found && cid < bestCid)) {
        bestSim = sim; bestCid = cid; found = true
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestSim, bestCid))
  }

  /** Argmin of round6 L2² over the (cid, cv) array; boxed cid or null. */
  def bestL2(codewords: ArrayData, cwDouble: Boolean, sv: ArrayData,
             svDouble: Boolean): Any = {
    val m = codewords.numElements()
    if (m == 0) return null
    var bestD: java.lang.Double = null
    var bestCid = 0L
    var found = false
    var i = 0
    while (i < m) {
      if (codewords.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_pq_argmin: null codeword struct at index $i")
      val c = codewords.getStruct(i, 2)
      val cid = c.getLong(0)
      val d: java.lang.Double =
        if (c.isNullAt(1)) null
        else {
          val cv = c.getArray(1)
          val l = l2sq(sv, svDouble, cv, cwDouble)
          if (l == null) null else round6(l.doubleValue())
        }
      // array_min: smallest (d, cid) wins; null d sorts FIRST so it WINS
      val cmp = if (!found) -1 else simCompare(d, bestD)
      if (cmp < 0 || (cmp == 0 && found && cid < bestCid)) {
        bestD = d; bestCid = cid; found = true
      }
      i += 1
    }
    bestCid
  }
}

/** Shared input validation for the two fused expressions. */
trait VecArgBestInputs { self: BinaryExpression =>

  protected def fnName: String

  protected def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  protected def codewordElem(dt: DataType): Option[StructType] = dt match {
    case ArrayType(st: StructType, _)
        if st.length == 2 && st(0).dataType == LongType &&
          isVec(st(1).dataType) => Some(st)
    case _ => None
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = codewordElem(left.dataType).isDefined && isVec(right.dataType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$fnName expects (array<struct<cid: long, cv: array<float|double>>>, " +
        s"array<float|double>), got (${left.dataType.simpleString}, " +
        s"${right.dataType.simpleString})")
  }

  protected def centsVecIsDouble: Boolean =
    codewordElem(left.dataType).get(1).dataType
      .asInstanceOf[ArrayType].elementType == DoubleType

  protected def vecIsDouble: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == DoubleType
}

/** `graft_cos_best(cents, v)` → struct(sim double, cid long) — see
  * [[VecArgBest]].
  */
case class CosArgmax(left: Expression, right: Expression)
    extends BinaryExpression with VecArgBestInputs {

  override protected def fnName: String = "graft_cos_best"

  override def dataType: DataType = StructType(Seq(
    StructField("sim", DoubleType, nullable = true),
    StructField("cid", LongType, nullable = false)))

  override def nullable: Boolean = true

  override protected def nullSafeEval(c: Any, v: Any): Any =
    VecArgBest.bestCos(c.asInstanceOf[ArrayData], centsVecIsDouble,
      v.asInstanceOf[ArrayData], vecIsDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, v) => {
      s"""
         |${ev.value} = graft.expressions.VecArgBest.bestCos(
         |  $c, $centsVecIsDouble, $v, $vecIsDouble);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_pq_argmin(codewords, sv)` → cid long — see [[VecArgBest]]. */
case class PqArgmin(left: Expression, right: Expression)
    extends BinaryExpression with VecArgBestInputs {

  override protected def fnName: String = "graft_pq_argmin"

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override protected def nullSafeEval(c: Any, v: Any): Any =
    VecArgBest.bestL2(c.asInstanceOf[ArrayData], centsVecIsDouble,
      v.asInstanceOf[ArrayData], vecIsDouble)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, v) => {
      val res = ctx.freshName("res")
      s"""
         |Object $res = graft.expressions.VecArgBest.bestL2(
         |  $c, $centsVecIsDouble, $v, $vecIsDouble);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) $res).longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
