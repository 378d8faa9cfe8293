package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Runtime kernel for [[LongArrayDot]]: tight primitive loop over the
  * unsafe array data — no per-element lambda dispatch (Spark's
  * higher-order `zip_with`/`aggregate` evaluate an interpreted lambda per
  * element, which dominates wide-vector similarity scans).
  */
object VectorUtil {
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }
}

/** Exact int64 dot product of two array<bigint> columns as a native
  * Catalyst expression with codegen (SURVEY.md §2.8 extension surface:
  * custom Expression beats UDF beats driver loop). Element nulls are not
  * expected (inputs are produced by quantization) — mirrors the exact
  * arithmetic of `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, +)`, so
  * results are bit-identical to the DuckDB oracle formulation.
  */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorUtil.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // static forwarder on the object's companion class — plain static call
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorUtil.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Runtime kernel for [[SrpBandCodes]]: all `bands*bits` hyperplane
  * dot-products and the band-code packing in one tight primitive loop.
  * The hyperplane components are the same deterministic integer formula
  * the DuckDB oracle evaluates — h(j,k) = ((j*1000003 + k*7919) *
  * 2654435761) % 2001 - 1000, positive before the mod — so the codes
  * are bit-identical to both the SQL higher-order formulation and the
  * oracle.
  */
object SrpUtil {
  def bandCodes(q: ArrayData, bands: Int, bits: Int): ArrayData = {
    val d = q.numElements()
    val codes = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var code = 0L
      var r = 0
      while (r < bits) {
        val j = b * bits + r
        var acc = 0L
        var k = 0
        while (k < d) {
          acc += q.getLong(k) *
            (((j * 1000003 + k * 7919) * 2654435761L) % 2001L - 1000L)
          k += 1
        }
        if (acc >= 0L) code |= 1L << r
        r += 1
      }
      codes(b) = code
      b += 1
    }
    new GenericArrayData(codes)
  }
}

/** Signed-random-projection LSH band codes of a quantized array<bigint>
  * vector as a native codegen'd expression. Spark's higher-order
  * `transform`/`aggregate` evaluate an interpreted lambda per element —
  * for SRP banding that is `bands*bits*dim` lambda dispatches per row;
  * this expression replaces them with one static call.
  */
case class SrpBandCodes(child: Expression, bands: Int, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    SrpUtil.bandCodes(v.asInstanceOf[ArrayData], bands, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SrpUtil.bandCodes($c, $bands, $bits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Driver-held rational centroids (id, s, n), decoded once from the
  * `array<struct<int, array<bigint>, bigint>>` literal the IVF-PQ
  * layer builds with `typedLit` — a k-means cell table, or one
  * sub-space of a PQ codebook. Serializable: codegen ships it to the
  * executors through the plan's reference array. */
final case class CentroidTable(ids: Array[Int], sums: Array[Array[Long]],
                               counts: Array[Long])

object CentroidTable {
  def decode(a: ArrayData): CentroidTable =
    if (a == null) CentroidTable(Array.empty, Array.empty, Array.empty)
    else {
      val k = a.numElements()
      val rows = (0 until k).map(i => a.getStruct(i, 3))
      CentroidTable(rows.map(_.getInt(0)).toArray,
        rows.map(_.getArray(1).toLongArray()).toArray,
        rows.map(_.getLong(2)).toArray)
    }

  /** A per-sub-space codebook literal (`array<array<struct<...>>>`). */
  def decodeAll(a: ArrayData): Array[CentroidTable] =
    if (a == null) Array.empty
    else Array.tabulate(a.numElements())(i =>
      decode(if (a.isNullAt(i)) null else a.getArray(i)))
}

/** Runtime kernels for [[NearestCentroid]], [[PqEncode]] and
  * [[AdcFold]]: the IVF-PQ stack's nearest-centroid argmin and ADC
  * table fold as primitive loops, each bit-identical to its
  * higher-order SQL reference form (`VectorOps.nearestCentroidHof`,
  * `pqEncodeHof`, `adcFoldHof`):
  *  - the distance to a rational centroid (s, n) is the exact int64
  *    numerator sum_d (x_d*n - s_d)^2 and ONE IEEE division by
  *    (n*n).toDouble; `Math.*Exact` raises on overflow like the
  *    session's ANSI bigint arithmetic;
  *  - a null vector element, or a width that differs from the
  *    centroid's (zip_with pads with nulls), gives a null distance;
  *  - the argmin is `array_min` over (dist, id) structs: a null
  *    distance sorts first, ties go to the lowest id, an empty table
  *    gives null.
  */
object IvfKernels {
  private def hasNull(v: ArrayData, off: Int, len: Int): Boolean = {
    var j = 0
    while (j < len) { if (v.isNullAt(off + j)) return true; j += 1 }
    false
  }

  /** Distance of v[off, off + len) to centroid `c` of `t`; NaN stands
    * for SQL's null distance (a real distance is never NaN). */
  private def dist(v: ArrayData, off: Int, len: Int, nullVec: Boolean,
                   t: CentroidTable, c: Int): Double = {
    val s = t.sums(c)
    val n = t.counts(c)
    if (nullVec || s.length != len) Double.NaN
    else {
      var acc = 0L
      var j = 0
      while (j < len) {
        val d = Math.subtractExact(Math.multiplyExact(v.getLong(off + j), n), s(j))
        acc = Math.addExact(acc, Math.multiplyExact(d, d))
        j += 1
      }
      val denom = Math.multiplyExact(n, n)
      if (denom == 0L) throw new ArithmeticException("Division by zero")
      acc.toDouble / denom.toDouble
    }
  }

  /** Index into `t` of the nearest centroid to v[off, off + len) in
    * (dist, id) struct order — null distance first, then distance, then
    * id; -1 when `t` is empty. */
  private def argmin(v: ArrayData, off: Int, len: Int, t: CentroidTable): Int = {
    val nullVec = hasNull(v, off, len)
    var best = -1
    var bestDist = 0.0
    var c = 0
    while (c < t.ids.length) {
      val d = dist(v, off, len, nullVec, t, c)
      val before =
        if (best < 0) true
        else if (d.isNaN || bestDist.isNaN)
          d.isNaN && (!bestDist.isNaN || t.ids(c) < t.ids(best))
        else d < bestDist || (d == bestDist && t.ids(c) < t.ids(best))
      if (before) { best = c; bestDist = d }
      c += 1
    }
    best
  }

  /** (dist, cell) of the nearest centroid, or null for an empty table. */
  def nearest(q: ArrayData, t: CentroidTable): InternalRow = {
    val len = q.numElements()
    val c = argmin(q, 0, len, t)
    if (c < 0) null
    else {
      val d = dist(q, 0, len, hasNull(q, 0, len), t, c)
      new GenericInternalRow(Array[Any](if (d.isNaN) null else d, t.ids(c)))
    }
  }

  /** One code per sub-space: the nearest codeword of v's slice
    * [sub*subdim, sub*subdim + subdim) (shorter past v's end, like
    * `slice`); null where the sub-space codebook is empty. */
  def encode(v: ArrayData, cb: Array[CentroidTable], subdim: Int): ArrayData = {
    val size = v.numElements()
    val codes = new Array[Any](cb.length)
    var sub = 0
    while (sub < cb.length) {
      val off = sub * subdim
      val len = math.max(0, math.min(subdim, size - off))
      val c = argmin(v, off, len, cb(sub))
      codes(sub) = if (c < 0) null else cb(sub).ids(c)
      sub += 1
    }
    new GenericArrayData(codes)
  }

  /** ADC distance: a left fold from 0.0 of dtab[i*ksub + codes[i]] over
    * sub-spaces i = 0..m-1 — `element_at` indexing (1-based, negative
    * from the end, out of range raises); null if any looked-up code or
    * table entry is null. */
  def adcFold(codes: ArrayData, dtab: ArrayData, m: Int, ksub: Int): java.lang.Double = {
    val size = dtab.numElements()
    var acc = 0.0
    var isNull = false
    var i = 0
    while (i < m) {
      if (i >= codes.numElements())
        throw new ArrayIndexOutOfBoundsException(
          s"code index ${i + 1} outside array of ${codes.numElements()}")
      if (codes.isNullAt(i)) isNull = true
      else {
        val e = i * ksub + codes.getInt(i) + 1
        val pos = if (e > 0) e - 1 else if (e < 0) size + e else -1
        if (pos < 0 || pos >= size)
          throw new ArrayIndexOutOfBoundsException(
            s"table index $e outside array of $size")
        if (dtab.isNullAt(pos)) isNull = true
        else acc += dtab.getDouble(pos)
      }
      i += 1
    }
    if (isNull) null else acc
  }
}

/** Runtime kernel for [[MinHashSig]]: the MinHash signature of one
  * doc's shingle array in one pass over its grams, bit-identical to the
  * `explode` → md5 → `groupBy` formulation the DuckDB oracle replays
  * (`DedupOps.minhashPairsDuck`):
  *  - `hv` = the first 15 hex digits of md5(gram's UTF-8 bytes) as a
  *    long, i.e. the digest's first 8 bytes shifted right by 4;
  *  - `hm = hv % p`, and seed s keeps min over grams of
  *    `(hm * (2s + 1) + 7919 * s) % p` (exact: `p` < 2^31, so no term
  *    overflows);
  *  - a null gram is skipped, as `min` skips its null hash; a doc with
  *    no non-null gram has no signature (null).
  */
object MinHashKernel {
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def sig(grams: ArrayData, seeds: Int, p: Long): ArrayData = {
    val md = md5.get()
    val mins = Array.fill(seeds)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < grams.numElements()) {
      if (!grams.isNullAt(i)) {
        val d = md.digest(grams.getUTF8String(i).getBytes)
        var hv = 0L
        var k = 0
        while (k < 8) { hv = (hv << 8) | (d(k) & 0xffL); k += 1 }
        val hm = (hv >>> 4) % p
        var s = 0
        while (s < seeds) {
          val m = (hm * (2 * s + 1) + 7919L * s) % p
          if (m < mins(s)) mins(s) = m
          s += 1
        }
        seen = true
      }
      i += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }
}

/** Nearest rational centroid of an array<bigint> vector:
  * `struct<dist: double, cell: int>` against a foldable
  * (cell, s, n) table — k-means assignment as one static call per row.
  * The table is decoded once (interpreted: lazily per instance;
  * codegen: into the plan's reference array). */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  @transient private lazy val table =
    CentroidTable.decode(right.eval().asInstanceOf[ArrayData])

  override def dataType: DataType = StructType(Seq(
    StructField("dist", DoubleType), StructField("cell", IntegerType)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (right.foldable) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("centroids must be a literal")

  override def eval(input: InternalRow): Any = {
    val q = left.eval(input)
    if (q == null) null else IvfKernels.nearest(q.asInstanceOf[ArrayData], table)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tab = ctx.addReferenceObj("centroids", table,
      "graft.functions.CentroidTable")
    val q = left.genCode(ctx)
    ev.copy(code = code"""
      ${q.code}
      boolean ${ev.isNull} = ${q.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.IvfKernels.nearest(${q.value}, $tab);
        ${ev.isNull} = ${ev.value} == null;
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** PQ encode of an array<bigint> vector: one nearest-codeword id per
  * sub-space of width `subdim`, against a foldable per-sub-space
  * codebook literal (`array<array<struct<code, s, n>>>`, one entry per
  * sub-space). */
case class PqEncode(left: Expression, right: Expression, subdim: Int)
    extends BinaryExpression {

  @transient private lazy val codebook =
    CentroidTable.decodeAll(right.eval().asInstanceOf[ArrayData])

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    if (right.foldable) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("codebook must be a literal")

  override def eval(input: InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) null
    else IvfKernels.encode(v.asInstanceOf[ArrayData], codebook, subdim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebook", codebook,
      "graft.functions.CentroidTable[]")
    val v = left.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      boolean ${ev.isNull} = ${v.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = graft.functions.IvfKernels.encode(${v.value}, $cb, $subdim);
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ADC distance of a PQ code array against a dense per-query table
  * (`m` sub-spaces × `ksub` codewords, sub-major): the left fold of `m`
  * table lookups in sub-space order. */
case class AdcFold(left: Expression, right: Expression, m: Int, ksub: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def nullSafeEval(codes: Any, dtab: Any): Any =
    IvfKernels.adcFold(codes.asInstanceOf[ArrayData],
      dtab.asInstanceOf[ArrayData], m, ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, dtab) => {
      val r = ctx.freshName("adist")
      s"""java.lang.Double $r =
         |  graft.functions.IvfKernels.adcFold($codes, $dtab, $m, $ksub);
         |if ($r == null) ${ev.isNull} = true; else ${ev.value} = $r;""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The MinHash signature of an `array<string>` shingle column:
  * `array<bigint>` of `seeds` minima mod `p` ([[MinHashKernel]]), null
  * for a null or empty array. One row in, one row out: a doc signs in
  * the projection that shingles it, with no explode, aggregate or
  * shuffle. */
case class MinHashSig(child: Expression, seeds: Int, p: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash grams must be array<string>, not ${t.catalogString}")
  }

  override def nullSafeEval(grams: Any): Any =
    MinHashKernel.sig(grams.asInstanceOf[ArrayData], seeds, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g =>
      s"""${ev.value} = graft.functions.MinHashKernel.sig($g, $seeds, ${p}L);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  /** Codegen'd exact int64 dot product over quantized vectors. */
  def ldot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.Shim.{column, expression}
    column(LongArrayDot(expression(a), expression(b)))
  }

  /** Codegen'd SRP-LSH band codes over a quantized vector. */
  def srpCodes(q: Column, bands: Int, bits: Int): Column = {
    import org.apache.spark.sql.graftshim.Shim.{column, expression}
    column(SrpBandCodes(expression(q), bands, bits))
  }

  /** Codegen'd nearest rational centroid: struct(dist, cell) against a
    * centroid-table literal. */
  def nearestCentroid(q: Column, centroids: Column): Column = {
    import org.apache.spark.sql.graftshim.Shim.{column, expression}
    column(NearestCentroid(expression(q), expression(centroids)))
  }

  /** Codegen'd PQ encode against a per-sub-space codebook literal. */
  def pqEncode(v: Column, codebook: Column, subdim: Int): Column = {
    import org.apache.spark.sql.graftshim.Shim.{column, expression}
    column(PqEncode(expression(v), expression(codebook), subdim))
  }

  /** Codegen'd ADC fold of PQ codes over a dense distance table. */
  def adcFold(codes: Column, dtab: Column, m: Int, ksub: Int): Column = {
    import org.apache.spark.sql.graftshim.Shim.{column, expression}
    column(AdcFold(expression(codes), expression(dtab), m, ksub))
  }

  /** Codegen'd MinHash signature of a shingle array. */
  def minhashSig(grams: Column, seeds: Int, p: Long): Column = {
    import org.apache.spark.sql.graftshim.Shim.{column, expression}
    column(MinHashSig(expression(grams), seeds, p))
  }
}
