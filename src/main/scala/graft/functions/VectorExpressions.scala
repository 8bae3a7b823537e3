package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for vector math (SURVEY.md §2.10 extension
  * surface, preference order (b): custom Expression over UDF).
  *
  * `aggregate(zip_with(a, b, ...))` builds an intermediate array per row
  * and evaluates lambdas per element — measured 47s for the all-pairs
  * cosine query at sf0.1. This expression is a single codegen'd loop over
  * the two ArrayData buffers (no allocation, no virtual calls), which
  * brings the same query to the cost of the raw multiply-adds. At 100 TB
  * the similarity operators spend ~all their time here, so this is the
  * hot-loop that matters.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<double> arguments, " +
            s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Exact scaled-integer dot product: two array<bigint> columns holding
  * scale-9 fixed-point values (x·10⁹ as a long) fold to the scale-18
  * dot Σ xᵢyᵢ·10¹⁸ in pure long arithmetic — injectively order-equal to
  * the DECIMAL(28,18) fold it replaces in the ANN artifact faces, and
  * ~the cost of the raw multiply-adds where the interpreted per-element
  * decimal lambda allocated a BigDecimal per term (the q220 scaled-long
  * lesson generalized). Overflow-safe for unit vectors by Cauchy-Schwarz
  * applied to prefixes: every partial sum is ≤ √(Σx²)·√(Σy²)·10¹⁸ ≈ 10¹⁸,
  * far inside Long range; each term |xᵢyᵢ|·10¹⁸ ≤ 10¹⁸. The arithmetic is
  * multiplyExact/addExact (JIT intrinsics — an overflow-check branch per
  * op, not a BigDecimal) so an input outside the argued envelope fails
  * LOUDLY instead of silently mis-ranking. */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_dot_long"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types.LongType
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> arguments, " +
            s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(x.getLong(i), y.getLong(i)))
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc = java.lang.Math.addExact($acc,
         |    java.lang.Math.multiplyExact($a.getLong($i), $b.getLong($i)));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)
}

/** Exact scaled-integer squared L2 distance — [[DotLong]]'s companion
  * for the PQ encode argmin: Σ (xᵢ−yᵢ)²·10¹⁸ over scale-9 longs. The
  * difference of two scale-9 values is exact; squared terms and prefix
  * sums are ≤ (|x|+|y|)²·10¹⁸ — ≤ 4·10¹⁸ for unit subvectors and within
  * Long range up to |x|+|y| ≤ 3. Residual-space inputs could in
  * principle reach 4, so the arithmetic is multiplyExact/addExact: out
  * of envelope fails loudly, never mis-ranks. */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_sqdist_long"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types.LongType
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> arguments, " +
            s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = Math.subtractExact(x.getLong(i), y.getLong(i))
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = java.lang.Math.subtractExact($a.getLong($i), $b.getLong($i));
         |  $acc = java.lang.Math.addExact($acc, java.lang.Math.multiplyExact($d, $d));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistLong =
    copy(left = newLeft, right = newRight)
}

/** Bit-exact replication of `round(CAST(<decimal(28,18)> AS DOUBLE), 6)`
  * from the scale-18 long: BigDecimal(sl, 18).doubleValue IS Spark's
  * Decimal.toDouble, and BigDecimal.valueOf(d).setScale(6, HALF_UP) IS
  * Spark's Round on a double — so swapping the decimal fold for the long
  * fold cannot move any surfaced 6-dp value by even an ulp. */
case class Unscale18Round6(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_unscale18_round6"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a bigint argument, got ${other.catalogString}")
    }

  override def nullSafeEval(a: Any): Any =
    Unscale18Round6.eval(a.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.Unscale18Round6.eval($a);")

  override protected def withNewChildInternal(newChild: Expression): Unscale18Round6 =
    copy(child = newChild)
}

object Unscale18Round6 {
  def eval(sl: Long): Double = {
    val d = new java.math.BigDecimal(java.math.BigInteger.valueOf(sl), 18)
      .doubleValue()
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** Signed projections of a vector onto `nPlanes` deterministic
  * pseudo-random ±1 (Rademacher) hyperplanes — the LSH banding hot loop.
  * Plane p's component i sign is bit 0 of xxhash64(p, i) (identical to the
  * SQL form `xxhash64(pl, i) & 1`, chained from seed 42), so results match
  * the lambda-based prototype bit-for-bit. The sign matrix is
  * data-independent and cached per (nPlanes, dim); per row the expression
  * is nPlanes × dim fused multiply-adds with a single output allocation —
  * the lambda `transform(...aggregate(...))` form allocated an intermediate
  * array per plane per row and measured ~7× slower on the sf0.1 bench.
  */
case class LshProject(child: Expression, nPlanes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_lsh_project"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) if nPlanes > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, positive literal plane count), " +
            s"got ${child.dataType.catalogString}, $nPlanes")
    }

  override def nullSafeEval(a: Any): Any =
    LshProjections.project(a.asInstanceOf[ArrayData], nPlanes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.LshProjections.project($a, $nPlanes);")

  override protected def withNewChildInternal(newChild: Expression): LshProject =
    copy(child = newChild)
}

object LshProjections {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  /** ±1 sign matrix for (nPlanes, dim), derived from xxhash64(plane, i)
    * exactly as Spark SQL computes it (per-arg chaining from seed 42). */
  private def signs(nPlanes: Int, dim: Int): Array[Array[Double]] =
    cache.computeIfAbsent((nPlanes, dim), _ =>
      Array.tabulate(nPlanes, dim) { (pl, i) =>
        if ((XXH64.hashInt(i, XXH64.hashInt(pl, 42L)) & 1L) == 1L) 1.0 else -1.0
      })

  /** The sign matrix packed as one Long bitmask per plane (bit d set =
    * sign +1 for dimension d) — the q56 oracle persists these signs as a
    * parquet artifact so DuckDB replays the EXACT plane family the
    * production expression projects onto, and SimilaritySpec
    * cross-validates this packing against [[signs]] itself. */
  def signMasks(nPlanes: Int, dim: Int): Seq[Long] = {
    require(dim <= 64, s"mask packing holds <= 64 dims, got $dim")
    val s = signs(nPlanes, dim)
    (0 until nPlanes).map { p =>
      (0 until dim).foldLeft(0L)((acc, d) =>
        if (s(p)(d) > 0) acc | (1L << d) else acc)
    }
  }

  def project(emb: ArrayData, nPlanes: Int): ArrayData = {
    val dim = emb.numElements()
    val s = signs(nPlanes, dim)
    val out = new Array[Double](nPlanes)
    var p = 0
    while (p < nPlanes) {
      val sp = s(p)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += emb.getDouble(i) * sp(i); i += 1 }
      out(p) = acc
      p += 1
    }
    new GenericArrayData(out)
  }
}

object VectorExpressions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** A function of exactly `arity` arguments: the builder rejects any other
    * count with a message naming `args`. */
  private[functions] def describe(name: String, cls: Class[_], arity: Int,
      args: String)(mk: Seq[Expression] => Expression): FunctionDescription =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (exprs: Seq[Expression]) => {
        if (exprs.length != arity) throw new IllegalArgumentException(
          s"$name expects ($args), got ${exprs.length} argument(s)")
        mk(exprs)
      })

  /** Register each function the session does not have yet. Operators call
    * this on every use, so a registered builder (or one injected by
    * [[graft.GraftExtensions]]) is kept, not replaced. */
  private[graft] def registerMissing(spark: SparkSession,
      fns: Seq[FunctionDescription]): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** `graft_dot`, `graft_lsh_project` and the scaled-long vector
    * functions, for the session registry and the extensions injector. */
  val functions: Seq[FunctionDescription] = Seq(
    describe("graft_dot", classOf[DotProduct], 2, "vector, vector")(
      e => DotProduct(e.head, e(1))),
    (FunctionIdentifier("graft_lsh_project"),
      new ExpressionInfo(classOf[LshProject].getName, "graft_lsh_project"),
      (exprs: Seq[Expression]) => {
        // arity + foldability guarded BEFORE eval(null): a one-arg call or a
        // non-literal plane count must raise the friendly message, not an
        // IndexOutOfBounds/NPE out of eval on an unbound attribute
        if (exprs.length != 2 || !exprs(1).foldable)
          throw new IllegalArgumentException(
            "graft_lsh_project expects (vector, planeCount) where planeCount " +
              s"is an integer literal, got ${exprs.length} argument(s)" +
              (if (exprs.length == 2) s"; non-foldable plane count ${exprs(1).sql}" else ""))
        LshProject(exprs.head,
          exprs(1).eval(null) match {
            case i: Int => i
            case l: Long => l.toInt
            case other => throw new IllegalArgumentException(
              s"graft_lsh_project plane count must be an integer literal, got $other")
          })
      }),
    describe("graft_dot_long", classOf[DotLong], 2, "vector, vector")(
      e => DotLong(e.head, e(1))),
    describe("graft_sqdist_long", classOf[SqDistLong], 2, "vector, vector")(
      e => SqDistLong(e.head, e(1))),
    describe("graft_unscale18_round6", classOf[Unscale18Round6], 1, "value")(
      e => Unscale18Round6(e.head)))

  /** Make plain `expr("graft_dot(a, b)")` resolve in this session. */
  def register(spark: SparkSession): Unit = registerMissing(spark, functions)
}
