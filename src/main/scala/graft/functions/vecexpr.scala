package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two float vectors, summed
  * left-to-right in ascending index order.
  *
  * This is the engine's one custom `Expression` — the ANN candidate scan
  * computes one dot per (query, candidate) pair, and the built-in route
  * (`aggregate(zip_with(...))`) is an interpreted higher-order chain that
  * allocates a zipped array per row. `doGenCode` emits a tight primitive loop
  * that stays inside whole-stage codegen. The ascending-index IEEE summation
  * order is part of the CONTRACT: it makes the value bit-identical to the
  * DuckDB oracle's sequential `list_reduce` fold (and to the HOF form it
  * replaces), so the hash-compare correctness gate still applies.
  *
  * Elements must be non-null (embedding vectors are dense); mismatched lengths
  * dot the common prefix.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_vec_dot needs two array<float> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatVecDot {
  /** Column form (direct Catalyst construction — no session registration or
    * UDF indirection needed). */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(FloatVecDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}

/** Native Catalyst expression: the hyperplane-LSH bucket of one float vector
  * against `planes` fixed pseudo-random planes (coefficient of dimension i in
  * plane p = `SimOps.planeCoef(p, i)`).
  *
  * For each plane p it computes the exact integer dot
  * Σ_i floor(1000·x_i)·c_{p,i} over the vector's elements (null elements
  * contribute 0) and sets bit p of the result iff the dot is positive —
  * bit-for-bit the value of the relational explode → coef-join → sum → sign
  * pipeline it replaces (FunctionsSpec asserts equality), and of the DuckDB
  * oracle's mirror of that pipeline. The coefficients come from a
  * [[PlaneCoefs]] table that grows to the longest vector met, so building
  * the expression needs no pass over the input to learn the dimension.
  *
  * Round-6 optimization (guide §1.2 step 2 "per-task work", §2.4 "remove
  * shuffles outright"): as a PROJECTION the signature costs zero exchanges
  * and fuses into the scan, where the relational form paid an explode
  * shuffle + aggregate + join-back per call; an unrolled built-in-expression
  * encoding of the same dot (d×planes Add/Multiply nodes) compiles to a
  * pathological whole-stage method (measured ~0.3 ms/row at d=64, p=8),
  * while this loop runs at memory speed and keeps codegen output small.
  * Second custom Expression after [[FloatVecDot]], same justification
  * pattern: a hot-path arithmetic kernel the built-in surface cannot express
  * efficiently. */
case class HyperplaneBucket(child: Expression, planes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val coefs = new PlaneCoefs(planes)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bucket needs an array<float> input, got ${t.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "hyperplane_bucket"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    val cf = coefs.upTo(n)
    val dots = new Array[Long](planes)
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val xi = math.floor(x.getFloat(i).toDouble * 1000.0).toLong
        var p = 0
        while (p < planes) { dots(p) += xi * cf(i * planes + p); p += 1 }
      }
      i += 1
    }
    var b = 0L
    var p = 0
    while (p < planes) { if (dots(p) > 0) b |= (1L << p); p += 1 }
    b
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val table = ctx.addReferenceObj("hpCoefs", coefs, classOf[PlaneCoefs].getName)
      val n = ctx.freshName("n")
      val cf = ctx.freshName("cf")
      val dots = ctx.freshName("dots")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val xi = ctx.freshName("xi")
      val b = ctx.freshName("b")
      s"""
         |int $n = $x.numElements();
         |long[] $cf = $table.upTo($n);
         |long[] $dots = new long[$planes];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i)) {
         |    long $xi = (long) java.lang.Math.floor(((double) $x.getFloat($i)) * 1000.0);
         |    for (int $p = 0; $p < $planes; $p++) {
         |      $dots[$p] += $xi * $cf[$i * $planes + $p];
         |    }
         |  }
         |}
         |long $b = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  if ($dots[$p] > 0) $b |= (1L << $p);
         |}
         |${ev.value} = $b;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBucket {
  def bucket(vec: Column, planes: Int): Column =
    GraftColumnBridge.column(HyperplaneBucket(GraftColumnBridge.expression(vec), planes))
}

/** The plane coefficients [[HyperplaneBucket]] dots against, dimension-major
  * (`SimOps.planeCoef(p, i)` at `i * planes + p`), computed the first time a
  * vector with dimension i is met and kept. The table only grows, so each
  * coefficient is derived once per task (one md5 each); reads are a volatile
  * load and a length check. */
final class PlaneCoefs(planes: Int) extends Serializable {
  @volatile private var table = new Array[Long](0)

  /** A table covering dimensions 0 until `dims` (possibly more). */
  def upTo(dims: Int): Array[Long] = {
    val t = table
    if (t.length >= dims * planes) t else grow(dims)
  }

  private def grow(dims: Int): Array[Long] = synchronized {
    val old = table
    if (old.length < dims * planes)
      table = Array.tabulate(dims * planes)(j =>
        if (j < old.length) old(j) else SimOps.planeCoef(j % planes, j / planes))
    table
  }
}

/** Native Catalyst expression: the 64-bit SimHash of a text's whitespace
  * tokens, in one pass over the string's UTF-8 bytes.
  *
  * Tokenization splits on the single space byte 0x20 and skips empty tokens —
  * exactly `filter(split(text, " "), t => length(t) > 0)` (UTF-8 multi-byte
  * sequences never contain 0x20, so the byte split equals the character
  * split). Per token, bit b of the signature weighs ±1 by bit b of the
  * token's md5 (b < 32 from hex chars 9-16 = digest bytes 4-7; b ≥ 32 from
  * hex chars 1-8 = bytes 0-3 — the PortableHash.md5Lo32/md5Hi32 words), and
  * the signature sets bit b iff the signed sum is positive: bit-for-bit the
  * relational explode → 64 conditional sums → sign pipeline it replaces
  * (FunctionsSpec pins equality) and the DuckDB oracle's mirror.
  *
  * Round-6 optimization (guide §2.4): the signature becomes a PROJECTION —
  * the per-call token explode, the 64-aggregate shuffle and the interpreted
  * split/filter higher-order chain are gone; md5 runs once per token instead
  * of twice (the hi/lo column pair could not share the digest). Third native
  * expression, same justification pattern as [[FloatVecDot]]. */
case class SimhashText(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_text needs a string input, got ${t.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "simhash_text"

  override def nullSafeEval(v: Any): Any =
    SimhashText.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.SimhashText.compute($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashText {
  def simhash(text: Column): Column =
    GraftColumnBridge.column(SimhashText(GraftColumnBridge.expression(text)))

  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** One-pass token SimHash over UTF-8 bytes (see class doc). Public static
    * so generated code calls it directly. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val bytes = s.getBytes
    val md = digest.get()
    val counts = new Array[Int](64)
    var start = 0
    var i = 0
    val n = bytes.length
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        if (i > start) { // non-empty token [start, i)
          md.reset()
          md.update(bytes, start, i - start)
          val dg = md.digest()
          val hi = ((dg(0) & 0xFFL) << 24) | ((dg(1) & 0xFFL) << 16) |
            ((dg(2) & 0xFFL) << 8) | (dg(3) & 0xFFL)
          val lo = ((dg(4) & 0xFFL) << 24) | ((dg(5) & 0xFFL) << 16) |
            ((dg(6) & 0xFFL) << 8) | (dg(7) & 0xFFL)
          var b = 0
          while (b < 64) {
            val bit = if (b < 32) (lo >>> b) & 1L else (hi >>> (b - 32)) & 1L
            counts(b) += (if (bit == 1L) 1 else -1)
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}
