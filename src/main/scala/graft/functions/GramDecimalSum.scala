package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Upper-triangle Gram accumulation of a float-vector column as ONE
  * [[TypedImperativeAggregate]] — the fused form of the covariance
  * operator's pair expansion + keyed decimal reduce
  * (`explode(pair_products(v))` → `groupBy(i, j).agg(sum(cast(xy AS
  * decimal(38, s))))`): instead of materializing and hash-aggregating
  * N·d(d−1)/2 pair rows, each partition folds every row's pair products
  * straight into a triangular (BigDecimal, seen) buffer and the merge
  * combines d(d−1)/2 cells once per partition. Per-ROW transient memory
  * is O(1) — no pair array, no tile explode — which supersedes the
  * tiled-Gram bound; the cost moves to per-PARTITION state, d(d−1)/2
  * cells (~16 KB at d=64, ~20 MB at d=1024 — the documented ceiling is
  * d ≈ 4096, beyond which partition state outgrows executor comfort and
  * the tiled explode plan remains the fallback).
  *
  * Bit-exactness, replayed term for term from the twin it fuses:
  * `xy = (double)v[i]·(double)v[j]` is the exact IEEE product the SQL
  * formulation computes; the term cast replays the engine's non-ANSI
  * `cast(double AS decimal(38, s))` ([[Decimal]]`(xy)` shortest-repr +
  * `changePrecision` HALF_UP, NaN/Inf/overflow → null term, skipped by
  * sum) — since round 19 via [[GramDecimalSum.scaledLong]], a
  * digit-parse of `Double.toString`'s shortest representation straight
  * to the unscaled long at scale s (property-pinned against the
  * `Decimal` path; values whose scaled form outgrows a Long take the
  * original `Decimal` slow path). Per-cell accumulation is exact
  * integer addition on the unscaled longs, spilling a cell to java
  * `BigDecimal` on the first overflowing add — both EXACT at scale s,
  * hence order-free, matching Spark's decimal `sum` under any
  * partitioning (the r18 stage timeline adjudicated the BigDecimal
  * multiply-add stream as emb_covariance's dominant cost; the long
  * path removes the per-term BigDecimal parse/setScale/add churn).
  * Group-existence parity with the explode twin: a cell
  * is emitted iff some row produced the pair (both operands non-null —
  * pairs with a null operand are never emitted, so an all-null
  * dimension pair yields a MISSING row, exactly like
  * [[PairProducts]]); a cell whose every term cast to null (all-NaN)
  * is emitted with a null sum, exactly like `sum` over all-null.
  * Ragged vectors contribute only their own pairs — the buffer grows
  * to the longest vector seen.
  *
  * Returns `array<struct<i int, j int, sxy decimal(38, s)>>` ordered by
  * (j, i) ascending — consumers explode it and the cell order is
  * irrelevant to them. */
case class GramDecimalSum(
    vec: Expression,
    scale: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[GramDecimalSum.Buffer] {
  import GramDecimalSum.Buffer

  override def children: Seq[Expression] = Seq(vec)
  override def nullable: Boolean = false
  override def prettyName: String = "gram_decimal_sum"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("j", IntegerType, nullable = false),
      StructField("sxy", DecimalType(38, scale), nullable = true))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(FloatType, _) =>
      if (scale >= 0 && scale <= 38) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName: invalid scale $scale")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Buffer = new Buffer(0, scale)

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = vec.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val d = arr.numElements()
    if (d < 2) return buf
    buf.grow(d)
    var i = 0
    while (i < d) {
      if (!arr.isNullAt(i)) {
        val xi = arr.getFloat(i).toDouble
        var j = i + 1
        while (j < d) {
          if (!arr.isNullAt(j)) {
            // cell (i+1, j+1), triangular index independent of d
            val idx = (j - 1) * j / 2 + i
            buf.seen(idx) = true
            val xy = xi * arr.getFloat(j).toDouble
            // non-ANSI Cast: NaN/Inf and overflow -> null term, skipped
            if (!java.lang.Double.isNaN(xy) &&
                !java.lang.Double.isInfinite(xy)) {
              val sc = GramDecimalSum.scaledLong(xy, scale)
              if (sc != Long.MinValue) buf.addScaled(idx, sc)
              else {
                // scaled term outgrows a Long: original Decimal path
                // (also owns the precision>38 -> null-term rule)
                val term = Decimal(xy)
                if (term.changePrecision(38, scale))
                  buf.addBig(idx, term.toJavaBigDecimal)
              }
            }
          }
          j += 1
        }
      }
      i += 1
    }
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = {
    if (other.dim == 0) return buf
    buf.grow(other.dim)
    val cells = other.dim * (other.dim - 1) / 2
    var idx = 0
    while (idx < cells) {
      if (other.seen(idx)) buf.seen(idx) = true
      if (other.big(idx) != null) buf.addBig(idx, other.big(idx))
      else if (other.hasVal(idx)) buf.addScaled(idx, other.accL(idx))
      idx += 1
    }
    buf
  }

  override def eval(buf: Buffer): Any = {
    val out = new java.util.ArrayList[Any]()
    var j = 2
    while (j <= buf.dim) {
      var i = 1
      while (i < j) {
        val idx = (j - 2) * (j - 1) / 2 + (i - 1)
        if (buf.seen(idx)) {
          val sxy =
            if (!buf.hasVal(idx)) null
            else if (buf.big(idx) != null) {
              // decimal sum result semantics: overflow past (38, s) -> null
              val dec = Decimal(buf.big(idx))
              if (dec.changePrecision(38, scale)) dec else null
            } else
              // a Long-held sum has <= 19 digits: always fits (38, s)
              Decimal(buf.accL(idx), 38, scale)
          out.add(new GenericInternalRow(Array[Any](i, j, sxy)))
        }
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  // Serde format: dim, then per cell a flag byte (bit0 seen, bit1
  // has-value, bit2 spilled-to-BigDecimal) followed by the 8-byte
  // unscaled long (long cells) or a length-prefixed BigInteger (spilled
  // cells). Internal to one run's shuffle — no cross-version contract.
  override def serialize(buf: Buffer): Array[Byte] = {
    val cells = buf.dim * (buf.dim - 1) / 2
    val parts = new Array[Array[Byte]](cells)
    var total = 4
    var idx = 0
    while (idx < cells) {
      if (buf.big(idx) != null) {
        parts(idx) = buf.big(idx).unscaledValue().toByteArray
        total += 1 + 4 + parts(idx).length
      } else if (buf.hasVal(idx)) total += 1 + 8
      else total += 1
      idx += 1
    }
    val bb = ByteBuffer.allocate(total)
    bb.putInt(buf.dim)
    idx = 0
    while (idx < cells) {
      val flags = ((if (buf.seen(idx)) 1 else 0) |
        (if (buf.hasVal(idx)) 2 else 0) |
        (if (parts(idx) != null) 4 else 0)).toByte
      bb.put(flags)
      if (parts(idx) != null) {
        bb.putInt(parts(idx).length)
        bb.put(parts(idx))
      } else if (buf.hasVal(idx)) bb.putLong(buf.accL(idx))
      idx += 1
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val d = bb.getInt
    val buf = new Buffer(d, scale)
    val cells = d * (d - 1) / 2
    var idx = 0
    while (idx < cells) {
      val flags = bb.get()
      buf.seen(idx) = (flags & 1) != 0
      buf.hasVal(idx) = (flags & 2) != 0
      if ((flags & 4) != 0) {
        val len = bb.getInt
        val payload = new Array[Byte](len)
        bb.get(payload)
        buf.big(idx) = new java.math.BigDecimal(
          new java.math.BigInteger(payload), scale)
      } else if (buf.hasVal(idx)) buf.accL(idx) = bb.getLong
      idx += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): GramDecimalSum =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): GramDecimalSum =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0))
}

object GramDecimalSum {
  /** Growable triangular state, cell (i, j) (1-based, i < j) at index
    * `(j−2)(j−1)/2 + (i−1)` — column-major by j, so growing the
    * dimension appends cells without relocating existing ones.
    *
    * A cell's sum lives in `accL` as an unscaled long at `scale`
    * (`hasVal` distinguishes a zero sum from no-non-null-term-yet) until
    * an add overflows 64 bits or a term arrives that outgrows a Long —
    * then the cell spills to an exact `BigDecimal` in `big` (invariant:
    * `big(idx) != null` implies `hasVal(idx)`). Both representations
    * are exact at `scale`, so spilling at ANY point yields the same
    * final sum. */
  final class Buffer(initialDim: Int, val scale: Int) {
    var dim: Int = initialDim
    private def cells(d: Int): Int = d * (d - 1) / 2
    var accL: Array[Long] = new Array[Long](cells(initialDim))
    var big: Array[java.math.BigDecimal] =
      new Array[java.math.BigDecimal](cells(initialDim))
    var hasVal: Array[Boolean] = new Array[Boolean](cells(initialDim))
    var seen: Array[Boolean] = new Array[Boolean](cells(initialDim))

    def grow(d: Int): Unit = if (d > dim) {
      accL = java.util.Arrays.copyOf(accL, cells(d))
      big = java.util.Arrays.copyOf(big, cells(d))
      hasVal = java.util.Arrays.copyOf(hasVal, cells(d))
      seen = java.util.Arrays.copyOf(seen, cells(d))
      dim = d
    }

    /** Fold an unscaled-long term into the cell. */
    def addScaled(idx: Int, v: Long): Unit = {
      val b = big(idx)
      if (b != null) big(idx) = b.add(java.math.BigDecimal.valueOf(v, scale))
      else if (!hasVal(idx)) { hasVal(idx) = true; accL(idx) = v }
      else {
        val a = accL(idx)
        val s = a + v
        if (((a ^ s) & (v ^ s)) < 0)
          // 64-bit overflow: spill, re-doing this add exactly
          big(idx) = java.math.BigDecimal.valueOf(a, scale)
            .add(java.math.BigDecimal.valueOf(v, scale))
        else accL(idx) = s
      }
    }

    /** Fold a BigDecimal term (already at `scale`) into the cell. */
    def addBig(idx: Int, t: java.math.BigDecimal): Unit = {
      val b = big(idx)
      if (b != null) big(idx) = b.add(t)
      else if (hasVal(idx))
        big(idx) = java.math.BigDecimal.valueOf(accL(idx), scale).add(t)
      else { hasVal(idx) = true; big(idx) = t }
    }
  }

  private val POW10: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** Exact 128-bit fixed-point fast path for [[scaledLong]] (round 19).
    *
    * Goal: R = HALF_UP_scale(r) where r is the decimal repr
    * `Double.toString(x)` emits. Any repr that round-trips to x satisfies
    * |r − e| ≤ ulp(x)/2 where e is x's exact binary value m·2^k — so
    * rounding e instead of r gives the SAME result whenever no rounding
    * boundary (a half-multiple of one scale-unit) lies within ulp/2 of e.
    * This routine computes e·10^scale exactly as a 128-bit integer
    * (m·10^scale via multiplyHigh, then >> −k), rounds it half-up, and
    * PROVES the boundary margin: in remainder units (2^k of a unit) the
    * uncertainty is 10^scale·2^(k−1)·2^(−k) = 10^scale/2 = P/2 exactly,
    * so the fast result is valid iff |rem − 2^(−k−1)| > P/2 — any nearer
    * case (including exact .5 ties) returns [[FallbackToString]] and the
    * caller replays the string walk. Requires 10^scale < 2^40 (scale ≤
    * 12; P/2 must sit below the 2^63 remainder geometry) — larger scales
    * always take the string walk. Property-pinned against the Decimal
    * cast with boundary-jittered generators in KernelPropertySpec and a
    * 20M-case sweep recorded in OPTIMIZATION_r19.md. */
  private val FallbackToString = Long.MinValue

  private def scaledLongFixed(x: Double, scale: Int): Long = {
    val bits = java.lang.Double.doubleToRawLongBits(x)
    val neg = bits < 0
    val e = ((bits >>> 52) & 0x7ff).toInt
    val f = bits & 0x000fffffffffffffL
    if (e == 0x7ff) return FallbackToString // NaN/Inf (callers exclude)
    val m = if (e > 0) f | (1L << 52) else f
    if (m == 0L) return 0L // ±0.0
    val k = if (e > 0) e - 1075 else -1074
    // k >= 0 means |x| >= 2^52: scaled value far outside a Long for any
    // scale >= 1, and for scale 0 the string walk's fit checks own it
    if (k >= 0) return FallbackToString
    val p = POW10(scale)
    val halfP = p >>> 1 // dist > P/2 <=> dist > halfP (P even, or P=1: >0)
    val hi = Math.multiplyHigh(m, p) // m, p > 0: signed == unsigned
    val lo = m * p
    val s2 = -k // 1..1074
    if (s2 <= 63) {
      if ((hi >>> (s2 - 1)) != 0L) return FallbackToString // >= 2^63
      val i = (hi << (64 - s2)) | (lo >>> s2)
      val rem = lo & ((1L << s2) - 1)
      val h = 1L << (s2 - 1)
      val dist = if (rem >= h) rem - h else h - rem
      if (dist <= halfP) return FallbackToString
      if (rem > h) {
        if (i == Long.MaxValue) return FallbackToString // i+1 hits 2^63
        if (neg) -(i + 1) else i + 1
      } else if (neg) -i else i
    } else if (s2 == 64) {
      val i = hi // prod < 2^113 -> hi < 2^49: fits with room for +1
      if (lo < 0) { // unsigned lo >= 2^63 = H: rounds up, dist = lo - 2^63
        val dist = lo - Long.MinValue
        if (dist <= halfP) return FallbackToString
        if (neg) -(i + 1) else i + 1
      } else { // dist = 2^63 - lo
        if (lo != 0L && (Long.MinValue - lo) <= halfP) return FallbackToString
        if (neg) -i else i
      }
    } else if (s2 <= 127) {
      val sh = s2 - 64 // 1..63
      val i = hi >>> sh
      val remHi = hi & ((1L << sh) - 1)
      val hHi = 1L << (sh - 1) // H = 2^(s2-1): hi word hHi, lo word 0
      if (remHi == hHi) { // rem >= H, dist = lo as unsigned
        if (java.lang.Long.compareUnsigned(lo, halfP) <= 0) return FallbackToString
        if (neg) -(i + 1) else i + 1
      } else if (remHi > hHi) { // dist = (remHi-hHi)*2^64 + lo >= 2^64 > P/2
        if (neg) -(i + 1) else i + 1
      } else { // remHi < hHi: dist = H - rem
        val d = hHi - remHi
        // d >= 2: dist >= 2^64 > P/2. d == 1: dist = 2^64 - lo
        if (d == 1L &&
            java.lang.Long.compareUnsigned(lo, -halfP) >= 0)
          return FallbackToString
        if (neg) -i else i
      }
    } else 0L // s2 >= 128: e*10^scale < 2^113/2^128, margin >= 2^127-2^113
  }

  /** The unscaled value at `scale` of HALF_UP(shortest-decimal-repr(x))
    * — exactly what the engine's non-ANSI `cast(double AS
    * decimal(38, scale))` produces for any finite x whose scaled value
    * fits a Long ([[Decimal]]`(x)` parses `Double.toString`'s
    * shortest representation into a BigDecimal; `changePrecision`
    * rounds it HALF_UP to `scale`) — or `Long.MinValue` when it does
    * not fit, sending the caller to the original Decimal slow path.
    * `Long.MinValue` is unreachable as a genuine result because every
    * fit check bounds the magnitude by `Long.MaxValue`. HALF_UP rounds
    * away from zero, so the digit walk runs on the magnitude and the
    * sign is applied last. Property-pinned against the Decimal path in
    * KernelPropertySpec (including round-half boundaries, subnormals,
    * and scientific-notation strings).
    *
    * Round 19: the common case rides [[scaledLongFixed]] — an exact
    * 128-bit fixed-point rounding of the BINARY value with a proven
    * margin to the nearest rounding boundary — and only
    * boundary-ambiguous values (incl. every exact .5 tie), scales > 12,
    * and |x| ≥ 2^52 pay the `Double.toString` walk below. The per-term
    * cost drops from ~300 ns (string alloc + digit parse) to ~10 ns. */
  private[graft] def scaledLong(x: Double, scale: Int): Long = {
    if (scale <= 12) {
      val fast = scaledLongFixed(x, scale)
      if (fast != FallbackToString) return fast
    }
    scaledLongViaString(x, scale)
  }

  private[graft] def scaledLongViaString(x: Double, scale: Int): Long = {
    val s = java.lang.Double.toString(x)
    val n = s.length
    var p = if (s.charAt(0) == '-') 1 else 0
    val neg = p == 1
    var mant = 0L
    var sig = 0       // significant digits folded into mant
    var fracLen = 0
    var exp = 0
    var inFrac = false
    var done = false
    while (p < n && !done) {
      val c = s.charAt(p)
      if (c == '.') inFrac = true
      else if (c == 'E') {
        exp = Integer.parseInt(s.substring(p + 1))
        done = true
      } else {
        if (mant != 0 || c != '0') sig += 1
        // Double.toString emits <= 17 significant digits; guard anyway
        if (sig > 18) return Long.MinValue
        mant = mant * 10 + (c - '0')
        if (inFrac) fracLen += 1
      }
      p += 1
    }
    val shift = scale + exp - fracLen
    val res =
      if (mant == 0L) 0L
      else if (shift >= 0) {
        if (shift > 18) return Long.MinValue
        val pow = POW10(shift)
        if (mant > Long.MaxValue / pow) return Long.MinValue
        mant * pow
      } else {
        val k = -shift
        // mant < 10^18 (sig <= 18), so for k > 18 even 2·mant < 10^k:
        // the discarded fraction is under one half -> rounds to zero
        if (k > 18) 0L
        else {
          val pow = POW10(k)
          val q = mant / pow
          val r = mant - q * pow
          if (2 * r >= pow) q + 1 else q
        }
      }
    if (neg) -res else res
  }

  /** Column builder: `sum(cast(v[i]·v[j] AS decimal(38, s)))` over every
    * upper-triangle pair, in one pass, as array<struct<i, j, sxy>>. */
  def gram_decimal_sum(v: Column, scale: Int): Column =
    org.apache.spark.sql.graftcol.NativeColumn.column(
      GramDecimalSum(
        org.apache.spark.sql.graftcol.NativeColumn.expression(v),
        scale).toAggregateExpression())
}
