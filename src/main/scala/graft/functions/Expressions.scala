package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot kernels of the LLM-pipeline
  * operators. These stay inside whole-stage codegen (no UDF boxing, no
  * per-char object churn), which matters at 100 TB: the SimHash/MinHash
  * scans are pure narrow maps whose cost is exactly these kernels.
  *
  * Both implement the SAME arithmetic as the SQL formulations mirrored in
  * the DuckDB oracles, so results stay bit-identical cross-engine:
  *  - [[PolyHash32]] = fold over UTF-16 chars of
  *    `h = (h*31 + char) mod 4294967291` (equals the per-codepoint fold
  *    for BMP text, which is all the corpus has).
  *  - [[ArrayDotProduct]] = sequential left-fold of
  *    `acc + (double)a[i] * (double)b[i]` — identical IEEE operation
  *    order to the `aggregate(zip_with(...))` / `list_reduce` folds.
  */
case class PolyHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"polyhash32 needs a string, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    PolyHash32.hash(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |String $s = $c.toString();
         |long $h = 0L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $h = ($h * 31L + $s.charAt($i)) % ${PolyHash32.Mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash32 =
    copy(child = newChild)
}

object PolyHash32 {
  val Mod = 4294967291L
  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31L + s.charAt(i)) % Mod; i += 1 }
    h
  }
}

/** BYTE-exact sibling of [[PolyHash32]]: the same
  * `h = (h*31 + byte) mod 4294967291` fold, but over the string's UTF-8
  * BYTES instead of its UTF-16 chars. The two folds agree only on
  * pure-ASCII input — any supplementary-plane character (emoji) is one
  * surrogate PAIR of chars but four bytes, so a char-fold can never be
  * mirrored byte-exactly by an engine that sees UTF-8. This is the hash
  * for WHOLE-DOCUMENT content (p26's version diff; the m-series
  * checksums use the same fold over the payload), where astral-plane
  * text is routine; [[PolyHash32]] remains the per-WORD hash (SimHash /
  * vocab features), where the corpus contract is BMP tokens. Mirrored
  * in the oracle by [[graft.llm.TextExprs.duckByteHash]] (hex-pair
  * recovery of the UTF-8 octets). Faster than the char fold, not just
  * safer: Spark's `UTF8String` already stores UTF-8, so the kernel
  * reads the backing bytes with no `toString` decode.
  */
case class ByteHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"bytehash32 needs a string, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    ByteHash32.hash(v.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $b = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $h = ($h * 31L + ($b[$i] & 0xffL)) % ${PolyHash32.Mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ByteHash32 =
    copy(child = newChild)
}

object ByteHash32 {
  def hash(b: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < b.length) { h = (h * 31L + (b(i) & 0xffL)) % PolyHash32.Mod; i += 1 }
    h
  }
}

/** Sequential-fold dot product of two float/double arrays as double. */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes() = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot needs two arrays of float/double, got ${left.dataType}, ${right.dataType}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    // dimension mismatch = corrupt embedding data: fail loudly rather
    // than truncating to a plausible-but-wrong dot product
    if (a.numElements() != b.numElements())
      throw new IllegalArgumentException(
        s"graft_dot: array length mismatch ${a.numElements()} vs ${b.numElements()}")
    val n = a.numElements()
    val aFloat = elemType(left) == FloatType
    val bFloat = elemType(right) == FloatType
    var acc = 0d
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getA = if (elemType(left) == FloatType) s"(double) $l.getFloat($i)"
                 else s"$l.getDouble($i)"
      val getB = if (elemType(right) == FloatType) s"(double) $r.getFloat($i)"
                 else s"$r.getDouble($i)"
      s"""
         |if ($l.numElements() != $r.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_dot: array length mismatch " + $l.numElements() + " vs " + $r.numElements());
         |}
         |int $n = $l.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $getA * $getB;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Whitespace token count as ONE pass over the string's UTF-8 bytes —
  * semantically `size(split(text, ' '))` (= spaces + 1; split keeps
  * empty tokens in both engines) without materializing the token array.
  * A 0x20 byte never occurs inside a multi-byte UTF-8 sequence
  * (continuation bytes are >= 0x80), so counting raw bytes equals
  * counting space characters; the kernel never even decodes to UTF-16.
  * At 100 TB this is the difference between a token-budget scan that
  * allocates an array per document and one that reads bytes in place.
  */
case class WhitespaceTokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"graft_ws_tokens needs a string, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    WhitespaceTokenCount.count(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val cnt = ctx.freshName("cnt")
      s"""
         |int $n = $c.numBytes();
         |long $cnt = 1L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($c.getByte($i) == (byte) 0x20) $cnt++;
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WhitespaceTokenCount =
    copy(child = newChild)
}

object WhitespaceTokenCount {
  def count(s: UTF8String): Long = {
    val n = s.numBytes()
    var cnt = 1L
    var i = 0
    while (i < n) { if (s.getByte(i) == 0x20) cnt += 1; i += 1 }
    cnt
  }
}

/** Whole-document 64-bit SimHash in ONE codegen'd pass: splits `text`
  * on single spaces (exactly Spark's `split(text, ' ')` with limit -1,
  * empty tokens included), folds TWO independent 32-bit polynomial
  * hashes per token — `h1 = (h1*31 + char) mod 4294967291` (the
  * [[PolyHash32]] family) driving bits 0–31 and
  * `h2 = (h2*37 + char) mod 4294967279` driving bits 32–63 — and
  * assembles the signed 64-bit fingerprint from the 64 ±1 bit sums.
  *
  * Why one kernel instead of array HOFs: the per-bit
  * `aggregate(zip_with(...))` formulation evaluates 64 lambda lanes per
  * word under the HOF interpreter; this expression is a single tight
  * char loop per row inside whole-stage codegen — the difference is the
  * whole cost of the d04/d05/st18 fingerprint scans at corpus scale.
  *
  * Why 64 bits: the hamming<=3 pigeonhole join cuts the fingerprint
  * into 4 chunks; 8-bit chunks (32-bit simhash) give a 1024-key join
  * space that goes quadratic-within-bucket as the corpus grows, while
  * 16-bit chunks give 262144 keys — the scale-safe candidate currency.
  *
  * The fingerprint is SIGNED (bit 63 is the two's-complement sign) so
  * the identical value is expressible in overflow-checked engines:
  * `hiSigned * 2^32 + lo` never leaves int64. Arithmetic shift + mask
  * (`(fp >> 16k) & 65535`) recovers chunks identically in Spark and
  * ANSI SQL.
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"graft_simhash64 needs a string, got ${child.dataType}")

  override protected def nullSafeEval(v: Any): Any =
    SimHash64.fingerprint(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.fingerprint($c.toString());")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  val Mod1 = 4294967291L // largest prime < 2^32 (the PolyHash32 modulus)
  val Mod2 = 4294967279L // next prime down; independent bit family

  /** Single-pass fingerprint; static so generated code JIT-inlines it. */
  def fingerprint(s: String): Long = {
    val counts = new Array[Int](64)
    val n = s.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        var h1 = 0L
        var h2 = 0L
        var j = start
        while (j < i) {
          val c = s.charAt(j).toLong
          h1 = (h1 * 31L + c) % Mod1
          h2 = (h2 * 37L + c) % Mod2
          j += 1
        }
        var b = 0
        while (b < 32) {
          counts(b) += (if (((h1 >> b) & 1L) == 1L) 1 else -1)
          counts(32 + b) += (if (((h2 >> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var lo = 0L
    var b = 0
    while (b < 32) { if (counts(b) > 0) lo |= 1L << b; b += 1 }
    var hi = 0L
    b = 0
    while (b < 31) { if (counts(32 + b) > 0) hi |= 1L << b; b += 1 }
    if (counts(63) > 0) hi -= 2147483648L // high half's sign bit
    hi * 4294967296L + lo
  }
}

/** SQL registration (idempotent per session). Spark 4 no longer exposes
  * `Column(expr)` publicly, so these kernels surface through the
  * function registry and `expr("graft_...(...)")` strings.
  */
object GraftFunctions {

  /** Every kernel as (SQL name, expression class, builder): the one
    * table both [[register]] and [[GraftExtensions]] iterate.
    */
  private[functions] val kernels: Seq[(String, Class[_], Seq[Expression] => Expression)] =
    Seq(
      ("graft_polyhash32", classOf[PolyHash32], exprs => PolyHash32(exprs.head)),
      ("graft_bytehash32", classOf[ByteHash32], exprs => ByteHash32(exprs.head)),
      ("graft_dot", classOf[ArrayDotProduct],
        exprs => ArrayDotProduct(exprs(0), exprs(1))),
      ("graft_kmin", classOf[KMinValues], exprs => KMinValues(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())),
      ("graft_ws_tokens", classOf[WhitespaceTokenCount],
        exprs => WhitespaceTokenCount(exprs.head)),
      ("graft_mg", classOf[MisraGries], exprs => MisraGries(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())),
      ("graft_simhash64", classOf[SimHash64], exprs => SimHash64(exprs.head)))

  /** Registers every kernel for use inside SQL expressions and
    * higher-order-function lambdas; names the session already holds
    * are left as they are.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    kernels.foreach { case (name, _, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}

/** Session-extension entry point for cluster deployments:
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` makes
  * the kernels available in every session without driver code.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.kernels.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(cls.getName, name),
        build))
    }
}
