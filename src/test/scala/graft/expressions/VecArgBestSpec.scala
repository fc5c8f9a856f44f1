package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bit-parity of the fused assign loops (graft_cos_best / graft_pq_argmin)
  * with the Column formulations they replace — including the ordering
  * corner cases: NaN sims (zero-norm vectors), exact-half round6 inputs
  * (the BigDecimal fallback), cid tie-breaks, and null propagation.
  */
class VecArgBestSpec extends SparkSpec {
  import spark.implicits._

  private def centsCol = collect_list(struct(col("cid"), col("cv"))).as("__cents")

  /** The replaced ivfAssign/assignNearest argmax. */
  private def foldBest = expr(
    """array_max(transform(__cents, c -> struct(
      |  round(graft_dot(v, c.cv) /
      |    (sqrt(graft_dot(v, v)) * sqrt(graft_dot(c.cv, c.cv))), 6) AS sim,
      |  -c.cid AS ncid)))""".stripMargin)

  /** The replaced pqModel/pqEncode argmin. */
  private def foldMin = expr(
    """array_min(transform(__cents, c -> struct(
      |  round(graft_l2sq(v, c.cv), 6) AS d,
      |  c.cid AS cid)))""".stripMargin)

  private def centRows = Seq(
    (0L, Array(1.0, 0.0, 0.0, 0.0)),
    (1L, Array(0.5, 0.5, 0.5, 0.5)),
    (2L, Array(-1.0, 2.0, -3.0, 4.0)),
    (3L, Array(0.5, 0.5, 0.5, 0.5)),        // duplicate of 1: cid tie-break
    (5L, Array(1.0e-9, 0.0, 0.0, 0.0))      // near-zero sims (round6 → ±0.0)
  ).toDF("cid", "cv")

  private def vecRows = Seq(
    Tuple1(Array(1.0, 0.0, 0.0, 0.0)),
    Tuple1(Array(0.5, 0.5, 0.5, 0.5)),
    Tuple1(Array(-0.25, 0.125, 63.5, -63.5)),
    Tuple1(Array(1.0000005, 2.0000005, -0.0000005, 0.0000015)), // half territory
    Tuple1(Array(0.0, 1.0e-9, -1.0e-9, 0.0)),
    Tuple1(Array(-1.0e-9, 0.0, 1.0e-9, 0.0))
  ).toDF("v")

  test("graft_cos_best is bit-identical to the array_max fold") {
    GraftFunctions.register(spark)
    val withCents = vecRows.crossJoin(broadcast(centRows.agg(centsCol)))
    val rows = withCents.select(
      expr("graft_cos_best(__cents, v)").as("fast"), foldBest.as("ref")).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val fast = r.getStruct(0)
      val ref = r.getStruct(1)
      assert(fast.getLong(1) == -ref.getLong(1),
        s"cid: fast=$fast ref=$ref")
      val fs = if (fast.isNullAt(0)) null
        else java.lang.Double.doubleToRawLongBits(fast.getDouble(0))
      val rs = if (ref.isNullAt(0)) null
        else java.lang.Double.doubleToRawLongBits(ref.getDouble(0))
      assert(fs == rs, s"sim bits: fast=$fast ref=$ref")
    }
  }

  test("a tiny negative winning cosine rounds to +0.0, as the fold's round does") {
    GraftFunctions.register(spark)
    // every sim is -1e-9: round6's rint fast path, whose raw result is -0.0
    val cents = Seq((0L, Array(1.0, 0.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("cid", "cv")
    val r = Seq(Tuple1(Array(-1.0e-9, -1.0e-9, 1.0, 0.0))).toDF("v")
      .crossJoin(broadcast(cents.agg(centsCol)))
      .select(expr("graft_cos_best(__cents, v)").as("fast"), foldBest.as("ref"))
      .head()
    val bits = (i: Int) => java.lang.Double.doubleToRawLongBits(r.getStruct(i).getDouble(0))
    assert(bits(0) == bits(1), s"sim bits: $r")
    assert(bits(0) == java.lang.Double.doubleToRawLongBits(0.0), s"signed zero: $r")
    assert(r.getStruct(0).getLong(1) == -r.getStruct(1).getLong(1))
    assert(java.lang.Double.doubleToRawLongBits(VecArgBest.round6(-1.0e-9)) == 0L)
  }

  test("graft_pq_argmin is bit-identical to the array_min fold") {
    GraftFunctions.register(spark)
    val withCents = vecRows.crossJoin(broadcast(centRows.agg(centsCol)))
    val rows = withCents.select(
      expr("graft_pq_argmin(__cents, v)").as("fast"),
      foldMin.getField("cid").as("ref")).collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"argmin: $r")
    }
  }

  test("zero-norm vector fails loudly (the fold's ANSI DIVIDE_BY_ZERO)") {
    GraftFunctions.register(spark)
    val zero = Seq(Tuple1(Array(0.0, 0.0, 0.0, 0.0))).toDF("v")
      .crossJoin(broadcast(centRows.agg(centsCol)))
    val e = intercept[Exception] {
      zero.select(expr("graft_cos_best(__cents, v)")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("zero-norm vector")))
    // the ±0.0 normalization the struct ordering applies
    assert(VecArgBest.simCompare(-0.0, 0.0) == 0)
    assert(VecArgBest.simCompare(Double.NaN, Double.PositiveInfinity) > 0)
    assert(VecArgBest.simCompare(null, Double.NegativeInfinity) < 0)
  }

  test("null vector and empty codeword array yield null") {
    GraftFunctions.register(spark)
    val nullV = Seq(Tuple1(null.asInstanceOf[Array[Double]])).toDF("v")
      .crossJoin(broadcast(centRows.agg(centsCol)))
      .select(expr("graft_cos_best(__cents, v)"),
        expr("graft_pq_argmin(__cents, v)")).head()
    assert(nullV.isNullAt(0) && nullV.isNullAt(1))
    val empty = Seq(Tuple1(Array(1.0, 2.0))).toDF("v")
      .crossJoin(broadcast(centRows.filter(col("cid") < 0).agg(centsCol)))
      .select(expr("graft_cos_best(__cents, v)"),
        expr("graft_pq_argmin(__cents, v)")).head()
    assert(empty.isNullAt(0) && empty.isNullAt(1))
  }

  test("length-mismatched codewords null their sim and lose/win like the fold") {
    GraftFunctions.register(spark)
    val mixed = Seq(
      (0L, Array(1.0, 0.0)),           // matches the 2-dim query
      (1L, Array(1.0, 0.0, 0.0))       // mismatch → null sim/d
    ).toDF("cid", "cv")
    val q = Seq(Tuple1(Array(1.0, 0.0))).toDF("v")
      .crossJoin(broadcast(mixed.agg(centsCol)))
    val r = q.select(
      expr("graft_cos_best(__cents, v)").as("fast"), foldBest.as("ref"),
      expr("graft_pq_argmin(__cents, v)").as("fastMin"),
      foldMin.getField("cid").as("refMin")).head()
    // argmax: null sim sorts first → cid 0 wins in both
    assert(r.getStruct(0).getLong(1) == -r.getStruct(1).getLong(1))
    assert(r.getStruct(0).getLong(1) == 0L)
    // argmin: null d sorts first → the MISMATCHED codeword wins in both
    assert(r.getLong(2) == r.getLong(3))
    assert(r.getLong(2) == 1L)
  }
}
