package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst vector kernels for the similarity-search operators the
  * reference exposes as array functions (`cosine_distance`
  * `/root/reference/python/datafusion/functions/__init__.py:3584`,
  * `inner_product` `:3638`, `array_distance` `:4535`).
  *
  * Implemented as codegen'd `BinaryExpression`s rather than Scala UDFs:
  * the generated loop runs inside whole-stage codegen with no boxing or
  * lambda dispatch per element — the preferred Spark-native shape for a
  * hot 100 TB scoring kernel (SURVEY.md §4 item 2). Accumulation is
  * sequential over elements, matching the fold order of the HOF
  * formulation and the DuckDB oracle.
  */
abstract class VectorKernel extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  protected def compute(a: ArrayData, b: ArrayData): Double
  /** Java loop body: given array vars `a`,`b`,`n`, assign to `result`.
    * All local variables must come from `ctx.freshName` — the same kernel
    * can appear several times inside one whole-stage-codegen'd projection. */
  protected def loopBody(ctx: CodegenContext, a: String, b: String, n: String,
      result: String): String

  /** Mismatched lengths are an error, matching the reference engine's
    * behavior (DataFusion raises on unequal vector lengths) — indexing past
    * the shorter array would be an out-of-bounds unsafe read. */
  protected final def checkLengths(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (n != b.numElements()) throw new IllegalArgumentException(
      s"$prettyName: vector length mismatch: $n vs ${b.numElements()}")
    n
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val bv = b.asInstanceOf[ArrayData]
    checkLengths(av, bv)
    compute(av, bv)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "$prettyName: vector length mismatch: " + $n + " vs " + $b.numElements());
         |}
         |${loopBody(ctx, a, b, n, ev.value.toString)}
       """.stripMargin
    })
}

case class CosineSimilarity(left: Expression, right: Expression) extends VectorKernel {
  override def prettyName: String = "cosine_sim"
  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def loopBody(ctx: CodegenContext, a: String, b: String,
      n: String, result: String): String = {
    val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
    val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
    val x = ctx.freshName("x"); val y = ctx.freshName("y")
    s"""
       |double $dot = 0.0, $na = 0.0, $nb = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $x = $a.getDouble($i); double $y = $b.getDouble($i);
       |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
       |}
       |$result = $dot / (Math.sqrt($na) * Math.sqrt($nb));
     """.stripMargin
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class InnerProduct(left: Expression, right: Expression) extends VectorKernel {
  override def prettyName: String = "inner_product"
  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var i = 0
    val n = a.numElements()
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }
  override protected def loopBody(ctx: CodegenContext, a: String, b: String,
      n: String, result: String): String = {
    val dot = ctx.freshName("dot"); val i = ctx.freshName("i")
    s"""
       |double $dot = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  $dot += $a.getDouble($i) * $b.getDouble($i);
       |}
       |$result = $dot;
     """.stripMargin
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class L2Distance(left: Expression, right: Expression) extends VectorKernel {
  override def prettyName: String = "l2_distance"
  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0; var i = 0
    val n = a.numElements()
    while (i < n) {
      val diff = a.getDouble(i) - b.getDouble(i)
      acc += diff * diff; i += 1
    }
    math.sqrt(acc)
  }
  override protected def loopBody(ctx: CodegenContext, a: String, b: String,
      n: String, result: String): String = {
    val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
    val diff = ctx.freshName("diff")
    s"""
       |double $acc = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $diff = $a.getDouble($i) - $b.getDouble($i);
       |  $acc += $diff * $diff;
       |}
       |$result = Math.sqrt($acc);
     """.stripMargin
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `cosine_sim(v, v)` reduced to a single accumulator pass — the target of
  * the [[KernelSimplify]] rewrite. With identical arguments the binary
  * kernel's three accumulators (`dot`, `na`, `nb`) run the same sequential
  * loop and are bitwise equal, so `ip / (sqrt(ip) * sqrt(ip))` with
  * `ip = Σx²` reproduces its result exactly, including NaN for zero/NaN
  * vectors (Java double semantics — Catalyst's ANSI `Divide` would throw on
  * the 0/0 case, so this cannot be expressed by composing built-ins). */
case class CosineSelf(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "cosine_self"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var ip = 0.0; var i = 0
    val n = a.numElements()
    while (i < n) { val x = a.getDouble(i); ip += x * x; i += 1 }
    ip / (math.sqrt(ip) * math.sqrt(ip))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val ip = ctx.freshName("ip")
      val i = ctx.freshName("i"); val x = ctx.freshName("x")
      s"""
         |int $n = $a.numElements();
         |double $ip = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i); $ip += $x * $x;
         |}
         |${ev.value} = $ip / (Math.sqrt($ip) * Math.sqrt($ip));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Upper-triangle pair products of a float vector in one generated loop:
  * emits `struct<i int, j int, xy double>` for every 1-based index pair
  * i < j with `xy = (double)v[i-1] * (double)v[j-1]` — the exact IEEE
  * product the SQL formulation
  * `cast(embedding[i-1] as double) * cast(embedding[j-1] as double)`
  * computes, so the downstream decimal-sum aggregate (and its DuckDB
  * oracle) is untouched. Replaces the covariance operator's nested
  * `transform`/`filter`/`flatten` tile expansion: higher-order functions
  * interpret their lambdas per element (no codegen, no CSE), which at
  * d=64 means ~d²/2 interpreted closures per row — the measured hot spot.
  * Null elements contribute no pairs, matching the HOF twin where a null
  * operand makes `xy` null and the `sum` that consumes it skips nulls —
  * with one unreachable-for-this-corpus divergence: a dimension pair
  * null across EVERY vector yields no (i, j) group at all here, where
  * the HOF (and the oracle's join) would emit the group with a NULL
  * sum; the corpus embeddings carry no null elements, so no group can
  * go missing. Pair order differs from the tile walk (plain row-major
  * here) but the consumer is an unordered `groupBy(i, j)`.
  *
  * This flat form materializes all d(d−1)/2 structs per row, so it is
  * the REFERENCE twin for specs; the covariance plan itself rides the
  * bounded [[PairProductsTile]]. */
case class PairProducts(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "pair_products"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("xy", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    PairProducts.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PairProducts.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PairProducts {
  def compute(v: ArrayData): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = v.numElements()
    val out = new java.util.ArrayList[Any](if (n > 1) n * (n - 1) / 2 else 0)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val xi = v.getFloat(i).toDouble
        var j = i + 1
        while (j < n) {
          if (!v.isNullAt(j)) {
            out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](i + 1, j + 1, xi * v.getFloat(j).toDouble)))
          }
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** One B×B dimension-block tile of [[PairProducts]]: the upper-triangle
  * products `(i, j, xy)` restricted to 0-based blocks `bi`/`bj` (block k
  * covering dimensions `[k·b, (k+1)·b)`), in one generated loop. The
  * covariance plan explodes a row into its `bi ≤ bj` tile units first and
  * evaluates this kernel per unit, so the array a single generated row
  * materializes is bounded by b² cells REGARDLESS of d — the tiled-Gram
  * scale contract (at d=1024, b=32: 528 units of ≤1,024 structs each,
  * never one 523k-struct array). Every i < j pair lands in exactly one
  * tile (within-block pairs in the bi = bj diagonal tile, cross-block
  * pairs where their blocks meet), union over tiles == the flat kernel
  * (spec-enforced), and the downstream decimal-sum `groupBy(i, j)` is
  * order-independent — so the oracle is untouched. Null-element
  * semantics identical to [[PairProducts]]. */
case class PairProductsTile(vec: Expression, bi: Expression, bj: Expression,
    b: Int)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def prettyName: String = "pair_products_tile"
  override def first: Expression = vec
  override def second: Expression = bi
  override def third: Expression = bj
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("xy", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (vec.dataType, bi.dataType, bj.dataType) match {
      case (ArrayType(FloatType, _), IntegerType, IntegerType) =>
        if (b > 0) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a positive block size, got $b")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, int, int), got $other")
    }

  override def nullSafeEval(v: Any, biV: Any, bjV: Any): Any =
    PairProductsTile.compute(v.asInstanceOf[ArrayData],
      biV.asInstanceOf[Int], bjV.asInstanceOf[Int], b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, x, y) =>
      s"graft.functions.PairProductsTile.compute($v, $x, $y, $b)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(vec = newFirst, bi = newSecond, bj = newThird)
}

object PairProductsTile {
  def compute(v: ArrayData, bi: Int, bj: Int,
      b: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = v.numElements()
    val iHi = math.min(bi.toLong * b + b, n.toLong).toInt
    val jLo = bj.toLong * b
    val jHi = math.min(jLo + b, n.toLong).toInt
    val out = new java.util.ArrayList[Any](math.min(b.toLong * b, 64L).toInt)
    var i = math.min(bi.toLong * b, n.toLong).toInt
    while (i < iHi) {
      if (!v.isNullAt(i)) {
        val xi = v.getFloat(i).toDouble
        var j = math.max(i + 1L, jLo).toInt
        while (j < jHi) {
          if (!v.isNullAt(j)) {
            out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](i + 1, j + 1, xi * v.getFloat(j).toDouble)))
          }
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Map-side nearest-centroid assignment against a driver-state k×d
  * centroid matrix, in one generated loop — the kernel form of the
  * constant-folded argmin the IVF/k-means family rode as interpreted
  * HOFs (`transform(cents, c -> aggregate(zip_with(v, c, (x,y) ->
  * (x−y)·(x−y)), 0.0, acc+z))` + `array_position(ds, array_min(ds))`,
  * ~2·d·k interpreted closures per row).
  *
  * Returns `struct<cid bigint, dist double>`: `dist` is the sequential
  * left-fold of squared differences against the winning centroid
  * (bit-identical IEEE order to the HOF fold and the DuckDB oracle's
  * unrolled literals), `cid` the 1-based position of the FIRST minimum
  * (strict `<` scan == `array_position(ds, array_min(ds))` — distances
  * are sums of squares, so no −0.0/NaN ordering divergence is
  * reachable for non-NaN input). The centroid matrix is a constructor
  * constant (the plan-literal posture: k×d driver state broadcast into
  * the generated code as a reference object, never a corpus×k join).
  * ASSUMES the corpus invariants of [[InnerProduct]]: non-null
  * elements, and THROWS on a vector whose length differs from the
  * centroids' d. */
case class HyperplaneSigs(child: Expression, planes: Array[Array[Double]],
    bandBits: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "hyperplane_sigs"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // A NULL input vector is a DEGENERATE row, not a null result: in the HOF
  // twin `zip_with(null, plane, …)` is null, the projection sum is null,
  // `null > 0` is null, and the CASE's else-branch makes every bit 0 — so
  // a null embedding lands in band-signature 0 for all bands instead of
  // dropping out of the downstream posexplode. eval/doGenCode therefore
  // bypass UnaryExpression's null-intolerant paths and feed compute(null).
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) =>
      if (planes.nonEmpty && bandBits > 0 && planes.length % bandBits == 0 &&
          planes.forall(_.length == planes(0).length))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a rectangular plane matrix whose row count " +
          s"is a multiple of bandBits")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    HyperplaneSigs.compute(
      if (v == null) null else v.asInstanceOf[ArrayData], planes, bandBits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    val c = child.genCode(ctx)
    ev.copy(
      code = c.code + code"""
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.HyperplaneSigs.compute(
            ${c.isNull} ? null : ${c.value}, $ref, $bandBits);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Banded hyperplane-LSH signatures in one generated loop — the codegen'd
  * replay of the nested HOF
  * `transform(sequence(0, nBands-1), b -> aggregate(sequence(0, bandBits-1),
  * 0L, (acc, j) -> acc + case when aggregate(zip_with(v, plane[b*bandBits+j],
  * (x, w) -> x*w), 0.0D, (a2, x) -> a2 + x) > 0 then 1L << j else 0L end))`
  * whose interpreted lambdas re-entered per ELEMENT (nPlanes·d re-entries
  * per vector). Projection sums accumulate 0.0-seeded left-to-right —
  * the identical IEEE sequence, so every bucket bit (and the DuckDB
  * oracle, which folds the same order via list_reduce) is unchanged.
  * zip_with's ragged/null semantics are replayed: a length mismatch pads
  * with null, a null element nulls its product, a fully-NULL vector nulls
  * every sum, and a null-propagated sum fails `> 0` — in every such case
  * the bit is 0, so the signature is the all-zero band array (never a
  * null row). NaN is replayed too: Spark's `>` uses the total ordering
  * where NaN is greater than every number, so a NaN projection sum (e.g.
  * Inf−Inf from a non-finite embedding) SETS the bit, matching the SQL
  * twin and DuckDB (whose comparisons also order NaN greatest) — Java's
  * native `s > 0` alone would silently flip it. The equivalence spec pins
  * kernel == HOF including null-element, ragged, null-vector, and NaN
  * rows, under forced codegen. */
object HyperplaneSigs {
  def compute(v: ArrayData, planes: Array[Array[Double]], bandBits: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val d = planes(0).length
    val nBands = planes.length / bandBits
    val n = if (v == null) -1 else v.numElements()
    var anyNull = false
    var i = 0
    while (i < n && !anyNull) { anyNull = v.isNullAt(i); i += 1 }
    val degenerate = v == null || anyNull || n != d
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      var acc = 0L
      if (!degenerate) {
        var j = 0
        while (j < bandBits) {
          val w = planes(b * bandBits + j)
          var s = 0.0
          var k = 0
          while (k < d) { s += v.getDouble(k) * w(k); k += 1 }
          // NaN replays Spark's total ordering (NaN > 0 is TRUE in SQL)
          if (s > 0 || java.lang.Double.isNaN(s)) acc += (1L << j)
          j += 1
        }
      }
      out(b) = acc
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class NearestCentroid(child: Expression, cents: Array[Array[Double]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "nearest_centroid"
  override def dataType: DataType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) =>
      if (cents.nonEmpty && cents.forall(_.length == cents(0).length))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a non-empty rectangular centroid matrix")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    NearestCentroid.compute(v.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NearestCentroid.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {
  def compute(v: ArrayData, cents: Array[Array[Double]])
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val d = cents(0).length
    if (v.numElements() != d) throw new IllegalArgumentException(
      s"nearest_centroid: vector length ${v.numElements()} != centroid dim $d")
    var bestId = 1L
    var best = Double.NaN
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var acc = 0.0
      var i = 0
      while (i < d) { val dx = v.getDouble(i) - cv(i); acc += dx * dx; i += 1 }
      // strict < keeps the FIRST minimum, matching array_position semantics
      if (c == 0 || acc < best) { best = acc; bestId = c + 1L }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestId, best))
  }
}

/** Exact-decimal squared-deviation sum of a double vector against a
  * constructor-constant centroid, in one generated loop:
  * `Σᵢ cast((v[i] − c[i])·(v[i] − c[i]) AS decimal(38, s))` with the
  * sum replayed EXACTLY as Spark's decimal `sum` aggregate performs it —
  * per-term non-ANSI Cast (Decimal(double) + changePrecision HALF_UP,
  * failure → null term, skipped), java `BigDecimal.add` accumulation
  * (exact, hence order-free), null when no term survived. A plain
  * `t₁ + t₂ + …` expression chain CANNOT express this: Add on two
  * decimal(38, s) operands needs precision 39, and Spark's
  * precision-loss rule drops the chain to scale s−1 with HALF_UP
  * rounding at EVERY step — the one-ulp drift that motivated this
  * kernel. Pairs with the dim-keyed `sum(cast(...))` it replaces (the
  * emb_outliers explode shape): per-dim inner-join semantics are kept
  * by folding over `min(|v|, |c|)` dimensions, and a null element
  * contributes no term, exactly as its exploded row's null did. */
case class DecimalSqDevSum(child: Expression, cents: Array[Double], scale: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "decimal_sqdev_sum"
  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) =>
      if (scale >= 0 && scale <= 38) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName: invalid scale $scale")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    DecimalSqDevSum.compute(v.asInstanceOf[ArrayData], cents, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = graft.functions.DecimalSqDevSum.compute($c, $ref, $scale);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DecimalSqDevSum {
  /** Since round 19 the per-term work rides [[GramDecimalSum.scaledLong]]
    * (the emb_covariance rewrite's digit-parse of `Double.toString`'s
    * shortest representation straight to the unscaled long at `scale`,
    * property-pinned bit-for-bit against the `Decimal` cast) and the
    * accumulator is exact integer addition, spilling to `BigDecimal` on
    * the first 64-bit overflow or outsized term. Both forms are exact at
    * `scale`, so the sum is order-free and value-identical to the
    * BigDecimal-per-term loop it replaces: a term whose scaled form fits
    * a Long has ≤ 19 digits, so the old path's `changePrecision(38, s)`
    * gate always passed for it, and a Long-held final sum (≤ 19 digits)
    * always fits `(38, s)`. The r18 stage timeline adjudicated the per-term
    * BigDecimal parse/setScale/add churn as the dominant cost of every
    * [[DecimalSqDevSum]]/[[DecimalSqDevArgmin]] consumer (triplet
    * mining's margin pass, the IVF/kmeans assign stages). */
  def compute(v: ArrayData, cents: Array[Double], scale: Int)
      : org.apache.spark.sql.types.Decimal = {
    val d = math.min(v.numElements(), cents.length)
    var accL = 0L
    var any = false
    var big: java.math.BigDecimal = null // spilled accumulator (implies any)
    var i = 0
    while (i < d) {
      if (!v.isNullAt(i)) {
        val dx = v.getDouble(i) - cents(i)
        val sq = dx * dx
        // non-ANSI Cast: NaN/Inf and overflow -> null term, skipped by sum
        if (!java.lang.Double.isNaN(sq) && !java.lang.Double.isInfinite(sq)) {
          val sc = GramDecimalSum.scaledLong(sq, scale)
          if (sc != Long.MinValue) {
            any = true
            if (big != null)
              big = big.add(java.math.BigDecimal.valueOf(sc, scale))
            else {
              val s = accL + sc
              if (((accL ^ s) & (sc ^ s)) < 0)
                // 64-bit overflow: spill, re-doing this add exactly
                big = java.math.BigDecimal.valueOf(accL, scale)
                  .add(java.math.BigDecimal.valueOf(sc, scale))
              else accL = s
            }
          } else {
            // scaled term outgrows a Long: original Decimal path (also
            // owns the precision>38 -> skipped-term rule)
            val term = Decimal(sq)
            if (term.changePrecision(38, scale)) {
              val t = term.toJavaBigDecimal
              big = if (big != null) big.add(t)
                    else java.math.BigDecimal.valueOf(accL, scale).add(t)
              any = true
            }
          }
        }
      }
      i += 1
    }
    if (!any) null
    else if (big != null) {
      // decimal sum result semantics: overflow past (38, scale) -> null
      val dec = Decimal(big)
      if (dec.changePrecision(38, scale)) dec else null
    } else Decimal(accL, 38, scale) // <= 19 digits: always fits (38, s)
  }
}

/** Exact-decimal squared-deviation ARGMIN over a constructor-constant
  * centroid table, in one generated loop: evaluates
  * [[DecimalSqDevSum]] against every centroid and returns the id of the
  * nearest, replaying the `row_number() OVER (ORDER BY dist ASC, cid
  * ASC)` rank-1 window it replaces — a NULL distance sorts FIRST (the
  * window's ASC NULLS FIRST; among nulls the lowest cid wins), exact
  * decimals compare by value, and ties fall to the lower cid (strict
  * `<` keeps the earliest). REQUIRES `cids` ascending with `cents`
  * aligned — the call site sorts; emitting each distance as its own
  * column and when-chaining the argmin is NOT equivalent in practice:
  * CollapseProject inlines every distance column into each of its
  * consumers, tripling the per-row decimal fold count (measured as a
  * multi-minute blowup at the 10× corpus — this kernel folds each
  * centroid exactly once per row). */
case class DecimalSqDevArgmin(child: Expression,
    cents: Array[Array[Double]], cids: Array[Long], scale: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "decimal_sqdev_argmin"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) =>
      if (cents.isEmpty || cents.length != cids.length)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: centroid/cid arity mismatch or empty")
      else if (!cids.sliding(2).forall(w => w.length < 2 || w(0) < w(1)))
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: cids must be strictly ascending")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    DecimalSqDevArgmin.compute(v.asInstanceOf[ArrayData], cents, cids, scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val idRef = ctx.addReferenceObj("cids", cids, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.DecimalSqDevArgmin.compute($c, $cRef, $idRef, $scale)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DecimalSqDevArgmin {
  def compute(v: ArrayData, cents: Array[Array[Double]], cids: Array[Long],
      scale: Int): Long = {
    var bestIdx = -1
    var bestNull = false
    var best: org.apache.spark.sql.types.Decimal = null
    var c = 0
    while (c < cents.length) {
      val dist = DecimalSqDevSum.compute(v, cents(c), scale)
      if (dist == null) {
        // NULLS FIRST: the first (lowest-cid) null distance wins outright
        if (!bestNull) { bestNull = true; bestIdx = c }
      } else if (!bestNull && (bestIdx == -1 || dist.compareTo(best) < 0)) {
        best = dist
        bestIdx = c
      }
      c += 1
    }
    cids(bestIdx)
  }
}

/** Per-subspace product-quantization argmin over a constructor-constant
  * codebook, in one generated loop: for each subspace `g` (contiguous
  * `w`-wide dimension block) it returns
  * `struct(dist DECIMAL(19+w, 12), cid BIGINT)` for the nearest of the
  * subspace's centroids — bit-for-bit the value of the SQL formulation
  * `array_min(array(named_struct('dist', Σⱼ cast((x−c)² AS
  * decimal(20,12)), 'cid', cid), …))` that [[graft.Scale.embPq]]
  * previously evaluated as a ~500-node expression tree per row, twice.
  *
  * Exact-decimal replay, term for term: each term is the non-ANSI
  * `Cast(double → decimal(20,12))` (`Decimal(sq)` + `changePrecision`
  * HALF_UP; NaN/Inf/overflow → null), the `t₁ + t₂ + …` chain is
  * Spark's decimal `Add` — scale stays 12, precision grows 20, 21, …,
  * 19+w with a per-node `CheckOverflow` (null on overflow), and unlike
  * the `sum` aggregate a single NULL TERM nulls the whole chain (`Add`
  * null-propagates; an out-of-range `element_at`, a null element, or a
  * NaN square all null the distance). The argmin replays `array_min`'s
  * struct ordering: a null dist sorts FIRST, distances compare as exact
  * decimals, ties fall to the lower cid. `w ≤ 19` keeps the chain's
  * precision inside 38 — beyond that Spark's precision-loss rule would
  * start rounding every Add and the replay contract breaks, so the
  * expression rejects it at analysis time. */
case class PqArgmin(child: Expression, cents: Array[Array[Array[Double]]],
    cids: Array[Array[Long]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  private def w: Int = cents(0)(0).length
  override def prettyName: String = "pq_argmin"

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("dist", DecimalType(19 + w, 12), nullable = true),
      StructField("cid", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) =>
      val rect = cents.nonEmpty && cents(0).nonEmpty &&
        cents(0)(0).nonEmpty &&
        cents.forall(g => g.nonEmpty &&
          g.forall(_.length == cents(0)(0).length)) &&
        cids.length == cents.length &&
        cids.zip(cents).forall { case (a, b) => a.length == b.length }
      if (!rect) TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a non-empty rectangular codebook with " +
          "matching cid labels")
      else if (19 + w > 38) TypeCheckResult.TypeCheckFailure(
        s"$prettyName: subvector width $w overflows the exact decimal " +
          "add chain (max 19)")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    PqArgmin.compute(v.asInstanceOf[ArrayData], cents, cids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("cents", cents, "double[][][]")
    val iRef = ctx.addReferenceObj("cids", cids, "long[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqArgmin.compute($c, $cRef, $iRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqArgmin {
  def compute(v: ArrayData, cents: Array[Array[Array[Double]]],
      cids: Array[Array[Long]])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = cents.length
    val w = cents(0)(0).length
    val prec = 19 + w
    val out = new Array[Any](s)
    var g = 0
    while (g < s) {
      val gc = cents(g); val gi = cids(g)
      // best distance: long-held unscaled-at-12 unless spilled to bestB
      var bestL = 0L
      var bestB: java.math.BigDecimal = null
      var bestNull = true
      var bestSet = false
      var bestCid = 0L
      var c = 0
      while (c < gc.length) {
        val cv = gc(c)
        // Accumulator replay (round 19, the emb_covariance playbook):
        // terms ride GramDecimalSum.scaledLong — exact unscaled longs at
        // scale 12 summed by integer addition — spilling to BigDecimal on
        // the first 64-bit overflow or outsized term. The per-Add
        // CheckOverflow gate (result precision > 20 + j -> null) is
        // replayed ONLY on the spilled path: a Long-held value has <= 19
        // digits, and the gate's minimum bound is 20, so a long-mode add
        // can never trip it — value-identical to the BigDecimal chain.
        var accL = 0L
        var accB: java.math.BigDecimal = null
        var started = false
        var isNull = false
        var j = 0
        while (j < w && !isNull) {
          val idx = g * w + j
          // element_at past the end (non-ANSI) and a null element both
          // yield a null term, which Add propagates to the whole chain
          if (idx >= v.numElements() || v.isNullAt(idx)) isNull = true
          else {
            val dx = v.getDouble(idx) - cv(j)
            val sq = dx * dx
            if (java.lang.Double.isNaN(sq) ||
                java.lang.Double.isInfinite(sq)) isNull = true
            else {
              val sc = GramDecimalSum.scaledLong(sq, 12)
              if (sc != Long.MinValue) {
                // fits a Long => <= 19 digits => changePrecision(20, 12)
                // on the term always succeeded on the old path
                if (accB != null) {
                  val a2 = accB.add(java.math.BigDecimal.valueOf(sc, 12))
                  if (a2.precision() > 20 + j) isNull = true else accB = a2
                } else if (!started) { started = true; accL = sc }
                else {
                  val s2 = accL + sc
                  if (((accL ^ s2) & (sc ^ s2)) < 0) {
                    // 64-bit overflow: spill, re-doing this add exactly
                    val a2 = java.math.BigDecimal.valueOf(accL, 12)
                      .add(java.math.BigDecimal.valueOf(sc, 12))
                    if (a2.precision() > 20 + j) isNull = true else accB = a2
                  } else accL = s2
                }
              } else {
                // term outgrows a Long: original Decimal path (owns the
                // precision-20 term gate)
                val term = Decimal(sq)
                if (!term.changePrecision(20, 12)) isNull = true
                else {
                  val t = term.toJavaBigDecimal
                  if (!started) { started = true; accB = t }
                  else {
                    val base =
                      if (accB != null) accB
                      else java.math.BigDecimal.valueOf(accL, 12)
                    val a2 = base.add(t)
                    if (a2.precision() > 20 + j) isNull = true else accB = a2
                  }
                }
              }
            }
          }
          j += 1
        }
        // array_min struct ordering: null dist first, then exact decimal
        // compare, tie to the lower cid
        val take =
          if (c == 0) true
          else if (isNull && !bestNull) true
          else if (isNull && bestNull) gi(c) < bestCid
          else if (bestNull) false
          else if (accB == null && bestB == null)
            accL < bestL || (accL == bestL && gi(c) < bestCid)
          else {
            val a = if (accB != null) accB
                    else java.math.BigDecimal.valueOf(accL, 12)
            val b = if (bestB != null) bestB
                    else java.math.BigDecimal.valueOf(bestL, 12)
            val cmp = a.compareTo(b)
            cmp < 0 || (cmp == 0 && gi(c) < bestCid)
          }
        if (take) {
          bestL = accL; bestB = accB; bestNull = isNull
          bestSet = started && !isNull; bestCid = gi(c)
        }
        c += 1
      }
      val dec =
        if (bestNull || !bestSet) null
        else if (bestB != null) {
          val d0 = Decimal(bestB); d0.changePrecision(prec, 12); d0
        } else Decimal(bestL, prec, 12) // <= 19 digits: fits (prec >= 20)
      out(g) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](dec, bestCid))
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Registry wiring: session-local registration plus a
  * [[SparkSessionExtensions]] hook for `--conf spark.sql.extensions`. */
object GraftFunctions {
  private def binary(name: String)(
      make: (Expression, Expression) => Expression): Seq[Expression] => Expression =
    es => {
      if (es.length != 2) throw new IllegalArgumentException(
        s"$name expects exactly 2 arguments (array<double>, array<double>), got ${es.length}")
      make(es.head, es(1))
    }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> binary("cosine_sim")(CosineSimilarity),
    "inner_product" -> binary("inner_product")(InnerProduct),
    "l2_distance" -> binary("l2_distance")(L2Distance))

  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(KernelSimplify))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ KernelSimplify
  }

  /** Column-API entry points (SQL names resolve via [[register]]). */
  def cosine_sim(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)
  def inner_product(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("inner_product", a, b)
  def l2_distance(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("l2_distance", a, b)
}

/** Algebraic simplification for the vector kernels — an engine-owned
  * Catalyst optimizer rule (the reference's pluggable-optimizer-rule
  * surface, `/root/reference/python/datafusion/context.py:1738`).
  *
  * `cosine_sim(v, v)` rewrites to the one-pass [[CosineSelf]] kernel, which
  * is bitwise-exact against the binary kernel (NOT a fold to `1.0`: for
  * `ip = 2`, `sqrt(2)² = 2.0000000000000004` so the kernel itself returns
  * `0.9999999999999998`, and a zero/NaN vector yields NaN — a constant fold
  * would change results, as would ANSI `Divide`, which throws on 0/0).
  *
  * `l2_distance(v, v)` is NOT folded to `0.0`: the kernel returns NaN when
  * `v` contains NaN/Inf, and no cheap expression distinguishes that without
  * a second per-element pass — the fold would change results. */
object KernelSimplify
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b)
          if a.deterministic && a.semanticEquals(b) =>
        CosineSelf(a)
    }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` wiring, the
  * deployment-time analog of [[GraftFunctions.register]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[VectorKernel].getName, name),
        builder))
    }
    e.injectOptimizerRule(_ => KernelSimplify)
  }
}
