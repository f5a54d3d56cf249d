/** Native engine expressions. This file lives under
  * `org.apache.spark.sql.graftnative` (not `graft`) because the seams a
  * native Catalyst expression needs — `AbstractDataType` for input-type
  * coercion and `ExpressionUtils.column` to lift an Expression into the
  * public Column DSL — are `private[sql]`. Compiling inside an sql
  * subpackage is the established pattern for libraries that ship codegen
  * expressions. The public surface for users is `graft.functions`.
  */
package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Dot product of two ARRAY<DOUBLE> columns as a codegen'd expression.
  *
  * The composable alternative — `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0D, (acc,p) -> acc+p)` — allocates an intermediate array and evaluates
  * interpreted lambdas per element; this expression runs one fused
  * primitive loop inside whole-stage codegen. Preference ladder: built-in
  * > native Expression > UDF.
  *
  * Semantics: null input → null; null *elements* contribute 0; length
  * mismatch uses the shorter prefix. Summation is strictly sequential
  * left-to-right — bit-identical to the HOF fold it replaces, so the
  * DuckDB oracles (`list_dot_product`) keep matching.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i)) {
         |    $s += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** First 4 md5 bytes of a string's UTF-8 encoding as an unsigned 32-bit
  * value in a BIGINT — the codegen'd native form of the engine's
  * hash-uniform primitive (`Llm.md5Hex32Spark`). The interpreted HOF
  * spelling it replaces (8 × instr/substr/shiftleft over the md5 hex
  * string) costs ~20 interpreted lambda ops per evaluation and is on the
  * per-row (sometimes per-token) path of every salted-hash selection.
  * Value-identical by construction: the first 8 hex chars of md5 ARE the
  * first 4 digest bytes big-endian, so every DuckDB oracle twin
  * (`md5(...)` hex arithmetic) keeps matching bit-for-bit.
  */
case class Md5Hex32(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5h32"

  override protected def nullSafeEval(s: Any): Any =
    Md5Hex32.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.Md5Hex32.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hex32 =
    copy(child = newChild)
}

object Md5Hex32 {
  // one digest instance per task thread, reset between rows — a JCA
  // provider lookup + allocation per evaluation would undercut the
  // point of the native expression on the per-token hot path
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}

/** All four 32-bit big-endian words of ONE md5 digest as
  * ARRAY<BIGINT> (each in [0, 2³²)) — word 0 IS `graft_md5h32` of the
  * same string (same first-4-bytes assembly), words 1-3 are the
  * remaining digest quarters. The multi-hash primitive for sketches
  * that need D "independent" hash rows per key (Count–Min cells, bloom
  * bit positions): one digest per ROW instead of one per (row × hash) —
  * a 128-bit digest's quarters are as independent as salted re-hashes,
  * at a quarter of the hashing cost on every fact row. DuckDB twin:
  * hex-slice `substr(md5(s), 8·i + 1, 8)` assembled per nibble
  * ([[graft.ops.Llm.md5SliceSql]] — the md5Hex32Sql spelling with a word
  * offset), so both engines read the same digest quarters.
  */
case class Md5Words32(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_md5w32"

  override protected def nullSafeEval(s: Any): Any =
    Md5Words32.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graftnative.Md5Words32.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Words32 =
    copy(child = newChild)
}

object Md5Words32 {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    val out = new Array[Long](4)
    var i = 0
    while (i < 4) {
      val o = i * 4
      out(i) = ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
        ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Bridge for code outside the sql package. */
object GraftNative {
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Bounded top-k candidate fold as a native TypedImperativeAggregate —
    * see [[TopKCandAgg]].
    */
  def topkCand(score: Column, nId: Column, k: Int, distinct: Boolean): Column =
    ExpressionUtils.column(
      TopKCandAgg(ExpressionUtils.expression(score),
        ExpressionUtils.expression(nId), k, distinct).toAggregateExpression())

  /** SQL-function builder shared by GraftExtensions and register(). */
  val dotBuilder: Seq[Expression] => Expression =
    children => DotProduct(children.head, children(1))

  val md5h32Builder: Seq[Expression] => Expression =
    children => Md5Hex32(children.head)

  val md5w32Builder: Seq[Expression] => Expression =
    children => Md5Words32(children.head)

  val pqReconBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 4)
      throw new IllegalArgumentException(
        s"graft_pq_recon expects 4 arguments (v, codebook, m, sub), got ${children.length}")
    PqRecon(children(0), children(1), children(2), children(3))
  }

  val cellsBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 4)
      throw new IllegalArgumentException(
        s"graft_cells expects 4 arguments (v, nrm, cents, n), got ${children.length}")
    CellsTopN(children(0), children(1), children(2), children(3))
  }

  val sketchBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 3)
      throw new IllegalArgumentException(
        s"graft_sketch expects 3 arguments (v, planes, bits), got ${children.length}")
    SignSketch(children(0), children(1), children(2))
  }

  /** One SQL function: its name, the expression class it builds (what
    * `DESCRIBE FUNCTION` reports) and its builder.
    */
  final case class SqlFunction(name: String, cls: Class[_ <: Expression],
      builder: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(cls.getCanonicalName, null, name)
  }

  /** The engine's SQL functions: `GraftExtensions` injects them and
    * [[register]] adds them to a running session.
    */
  val sqlFunctions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_dot", classOf[DotProduct], dotBuilder),
    SqlFunction("graft_md5h32", classOf[Md5Hex32], md5h32Builder),
    SqlFunction("graft_md5w32", classOf[Md5Words32], md5w32Builder),
    SqlFunction("graft_pq_recon", classOf[PqRecon], pqReconBuilder),
    SqlFunction("graft_cells", classOf[CellsTopN], cellsBuilder),
    SqlFunction("graft_sketch", classOf[SignSketch], sketchBuilder))

  /** Register the SQL names a running session lacks (extensions only apply
    * at session construction). A name the session already resolves is
    * left as it is, so a session built with `GraftExtensions` is untouched.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlFunctions.foreach { f =>
      if (!registry.functionExists(f.id)) registry.registerFunction(f.id, f.info, f.builder)
    }
  }
}

/** PQ encode + reconstruct in one native pass: for each of `m` subspaces
  * of `sub` dims, pick the codeword (from `cvs`, the codebook vectors in
  * codeword-id order) minimizing the 4dp-rounded squared L2 distance to
  * the corresponding slice of `v` — first minimal wins, which IS the
  * (distance, codeword-id) tie-break because the caller passes the
  * codebook id-sorted — and emit its slice into the reconstruction.
  *
  * Exists because the composable HOF spelling (transform + aggregate
  * min-fold per subspace) runs ~m·k interpreted lambda closures per row
  * (CodegenFallback with per-element dispatch and struct allocation);
  * this is one primitive double loop. CodegenFallback here too, but the
  * interpreter is entered once per ROW, not once per (subspace ×
  * codeword × dim). Rounding is allocation-free binary-double half-up
  * (`floor(s·10⁴ + 0.5)/10⁴`) — the same FAMILY as DuckDB's ROUND,
  * which rounds the binary double (C `round`, half away from zero;
  * identical for these non-negative distances except sub-ulp boundary
  * artifacts of the `+0.5` spelling). An exact .00005-boundary distance
  * could still in principle round apart between engines and (because
  * the per-subspace argmin keys on the rounded value) elect a DIFFERENT
  * codeword — the same accepted risk class as cosCol's rounded ranking,
  * but with a whole-codeword blast radius rather than a last-place rank
  * swap. Not observed on any fixture; both-SF oracle hashes pin it.
  * (The first spelling here was BigDecimal HALF_UP — Spark's own
  * round(_, 4) rule — which rounds the shortest decimal STRING: one
  * allocation + digit rendering per candidate, m·k = 4096 of them per
  * row, and it dominated the whole query at 5.1 s bench time.)
  *
  * Dimension contract: every codebook vector must carry >= m·sub
  * elements. The engine's builders guarantee it (codewords ARE corpus
  * vectors or their residuals, same fixed d), and [[PqRecon.compute]]
  * defensively SKIPS shorter codewords; the DuckDB oracle's list_sum
  * instead scores a short codeword on its present elements (NULLs drop
  * out), so the defensive paths diverge — by construction unreachable,
  * and only reachable at all with a hand-built mixed-length codebook.
  */
case class PqRecon(v: Expression, cvs: Expression, m: Expression, sub: Expression)
    extends Expression with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(v, cvs, m, sub)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)),
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType = ArrayType(DoubleType)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_recon"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vv = v.eval(input)
    val cc = cvs.eval(input)
    val mm = m.eval(input)
    val ss = sub.eval(input)
    if (vv == null || cc == null || mm == null || ss == null) null
    else PqRecon.compute(vv.asInstanceOf[ArrayData], cc.asInstanceOf[ArrayData],
      mm.asInstanceOf[Int], ss.asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqRecon =
    copy(v = newChildren(0), cvs = newChildren(1), m = newChildren(2), sub = newChildren(3))
}

object PqRecon {
  def compute(v: ArrayData, cvs: ArrayData, m: Int, sub: Int): Any = {
    val d = m * sub
    val vArr = v.toDoubleArray()
    if (vArr.length < d) return null
    val k = cvs.numElements()
    if (k == 0) return null
    val cb = new Array[Array[Double]](k)
    var i = 0
    while (i < k) { cb(i) = cvs.getArray(i).toDoubleArray(); i += 1 }
    val out = new Array[Double](d)
    var mi = 0
    while (mi < m) {
      val off = mi * sub
      var best = -1
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        val cv = cb(c)
        if (cv.length >= d) {
          var s = 0.0
          var j = 0
          while (j < sub) {
            val diff = vArr(off + j) - cv(off + j)
            s += diff * diff
            j += 1
          }
          // Binary-double half-up rounding — DuckDB ROUND's own family
          // (it rounds the binary double, not the decimal rendering), so
          // the argmin election aligns with the oracle by construction.
          // Spelled as an EXACT remainder compare rather than
          // floor(y + 0.5): fl(y − floor(y)) is exact for y < 2^52, so
          // the half test cannot suffer the addition-carry artifact
          // where y + 0.5 rounds up across the boundary (e.g. frac(y) =
          // 0.49999999999999994 electing a different codeword than C
          // round()). s ≥ 0 here, so half-up equals C round()'s
          // half-away-from-zero. Deliberately NOT BigDecimal:
          // allocation-free, because this line runs m·k times per row
          // (32·128 = 4096) and the BigDecimal spelling measurably
          // dominated the whole query (5.1 s → see PLANS.md).
          val y = s * 10000.0
          val fl = Math.floor(y)
          val d4 = (if (y - fl >= 0.5) fl + 1.0 else fl) / 10000.0
          if (d4 < bestD) { bestD = d4; best = c }
        }
        c += 1
      }
      if (best < 0) return null
      var j = 0
      while (j < sub) { out(off + j) = cb(best)(off + j); j += 1 }
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Probe-cell election in one native pass: for every centroid in `cents`
  * (array of structs carrying c_id / cv / cn), score the 4dp-rounded
  * cosine of `v` against it and return the best `n` cells as
  * array<struct<negcos, c_id>> ordered by (negcos asc, c_id asc) — a
  * drop-in replacement for the HOF spelling
  * `slice(array_sort(transform(cents, ...)), 1, n)` that entered the
  * interpreter once per (row × centroid) with a struct allocation each,
  * plus a full k-struct sort per row. Here the interpreter is entered
  * once per ROW; scoring is a primitive double loop and only the n
  * winners allocate output structs.
  *
  * Election-identical to the HOF spelling by construction: the dot is
  * the same strictly-sequential fold as [[DotProduct]] (null elements
  * contribute 0), the rounding is Spark `round(_, 4)`'s own rule
  * (pass NaN/Inf through, else BigDecimal.valueOf HALF_UP — the
  * decimal-string rule; this is an ELECTION key only, the value never
  * reaches declared output, so the PqRecon binary-rounding performance
  * note does not apply at k ≈ √n call counts), and the comparator is
  * (negcos, c_id) ascending with java's total double order (NaN last)
  * except that −0.0 is normalized to 0.0 first, matching the SQL
  * equality the DuckDB oracle applies at an exact-zero cosine tie.
  */
case class CellsTopN(v: Expression, nrm: Expression, cents: Expression, n: Expression)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(v, nrm, cents, n)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cells"
  override def dataType: DataType = CellsTopN.outType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    // field TYPES are checked, not just names: compute() calls
    // getLong/getDouble/getArray on the struct ordinals, so an
    // array<float> vector or an int c_id would otherwise surface as a
    // runtime ClassCastException (or silent garbage) instead of an
    // analysis-time failure
    def dArr(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true // containsNull-agnostic
      case _ => false
    }
    val ok = dArr(v.dataType) &&
      nrm.dataType == DoubleType &&
      (cents.dataType match {
        case ArrayType(st: org.apache.spark.sql.types.StructType, _) =>
          st.fieldNames.contains("c_id") && st("c_id").dataType == LongType &&
            st.fieldNames.contains("cv") && dArr(st("cv").dataType) &&
            st.fieldNames.contains("cn") && st("cn").dataType == DoubleType
        case _ => false
      }) &&
      n.dataType == org.apache.spark.sql.types.IntegerType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_cells expects (array<double>, double, array<struct{c_id:bigint,cv:array<double>,cn:double}>, int)")
  }

  @transient private lazy val centStruct = cents.dataType
    .asInstanceOf[ArrayType].elementType
    .asInstanceOf[org.apache.spark.sql.types.StructType]
  @transient private lazy val cIdOrd = centStruct.fieldIndex("c_id")
  @transient private lazy val cvOrd = centStruct.fieldIndex("cv")
  @transient private lazy val cnOrd = centStruct.fieldIndex("cn")
  @transient private lazy val numFields = centStruct.length

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vv = v.eval(input)
    val nr = nrm.eval(input)
    val ce = cents.eval(input)
    val nn = n.eval(input)
    if (vv == null || nr == null || ce == null || nn == null) null
    else CellsTopN.compute(vv.asInstanceOf[ArrayData], nr.asInstanceOf[Double],
      ce.asInstanceOf[ArrayData], nn.asInstanceOf[Int],
      cIdOrd, cvOrd, cnOrd, numFields)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CellsTopN =
    copy(v = newChildren(0), nrm = newChildren(1),
      cents = newChildren(2), n = newChildren(3))
}

object CellsTopN {
  import org.apache.spark.sql.types.{StructField, StructType}

  val outType: DataType = ArrayType(StructType(Seq(
    StructField("negcos", DoubleType, nullable = true),
    StructField("c_id", LongType, nullable = true))))

  def compute(v: ArrayData, nrm: Double, cents: ArrayData, n: Int,
      cIdOrd: Int, cvOrd: Int, cnOrd: Int, numFields: Int): Any = {
    val k = cents.numElements()
    val neg = new Array[Double](k)
    val ids = new Array[Long](k)
    val vLen = v.numElements()
    var i = 0
    while (i < k) {
      val row = cents.getStruct(i, numFields)
      val cv = row.getArray(cvOrd)
      val cn = row.getDouble(cnOrd)
      // same strictly-sequential null-skipping fold as DotProduct
      val m = math.min(vLen, cv.numElements())
      var s = 0.0
      var j = 0
      while (j < m) {
        if (!v.isNullAt(j) && !cv.isNullAt(j)) s += v.getDouble(j) * cv.getDouble(j)
        j += 1
      }
      val cos = s / (nrm * cn)
      val d4 =
        if (java.lang.Double.isNaN(cos) || java.lang.Double.isInfinite(cos)) cos
        else java.math.BigDecimal.valueOf(cos)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      var ng = -d4
      if (ng == 0.0) ng = 0.0 // normalize -0.0 for the SQL-equality tie
      neg(i) = ng
      ids(i) = row.getLong(cIdOrd)
      i += 1
    }
    val order = Array.range(0, k).sortWith { (a, b) =>
      val c = java.lang.Double.compare(neg(a), neg(b))
      if (c != 0) c < 0 else ids(a) < ids(b)
    }
    val take = math.max(0, math.min(n, k))
    val out = new Array[Any](take)
    i = 0
    while (i < take) {
      val o = order(i)
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](neg(o), ids(o)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Wide sign-sketch in one native pass: dot `v` against every plane of
  * `planes` (an ARRAY<ARRAY<DOUBLE>> — the broadcast hyperplane matrix)
  * and pack the sign bits, `bits` per 64-bit word, into an ARRAY<BIGINT>
  * of numPlanes/bits words (the caller passes an exact multiple; a
  * remainder shorter than `bits` is dropped). Bit r of word w is set iff
  * dot(v, planes[w·bits + r]) > 0, dots strictly sequential
  * left-to-right with null elements contributing 0 — BIT-IDENTICAL to
  * the composable spelling `aggregate(transform(sequence(0, bits-1),
  * r -> IF(graft_dot(v, element_at(pl, w·bits+r+1)) > 0D, shiftleft(1L,
  * r), 0L)), 0L, +)` and to the DuckDB twin's list_dot_product chain,
  * so the oracle spelling is untouched.
  *
  * Exists because the HOF spelling enters the lambda interpreter once
  * per PLANE (1020× per row for the probed-LSH prescreen sketch — the
  * dominant sf1.0 term after the r11 candidate-fold rework); this is
  * one primitive double loop entered once per ROW (CodegenFallback, the
  * PqRecon precedent).
  */
case class SignSketch(v: Expression, planes: Expression, bits: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with ExpectsInputTypes
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def first: Expression = v
  override def second: Expression = planes
  override def third: Expression = bits
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(ArrayType(DoubleType)),
      org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "graft_sketch"

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): SignSketch =
    copy(v = newFirst, planes = newSecond, bits = newThird)

  override protected def nullSafeEval(va: Any, pa: Any, ba: Any): Any = {
    val vec = va.asInstanceOf[ArrayData]
    val pls = pa.asInstanceOf[ArrayData]
    val bits = ba.asInstanceOf[Int]
    require(bits > 0 && bits <= 63, s"bits must be in [1, 63], got $bits")
    val d = vec.numElements()
    val vs = new Array[Double](d)
    var i = 0
    while (i < d) { vs(i) = if (vec.isNullAt(i)) 0.0 else vec.getDouble(i); i += 1 }
    val words = pls.numElements() / bits
    val out = new Array[Any](words)
    var w = 0
    while (w < words) {
      var word = 0L
      var r = 0
      while (r < bits) {
        val pl = pls.getArray(w * bits + r)
        val n = math.min(d, pl.numElements())
        var s = 0.0
        var j = 0
        while (j < n) {
          if (!pl.isNullAt(j)) s += vs(j) * pl.getDouble(j)
          j += 1
        }
        if (s > 0.0) word |= (1L << r)
        r += 1
      }
      out(w) = word
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
