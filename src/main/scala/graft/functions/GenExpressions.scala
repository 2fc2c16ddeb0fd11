package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels for the table generator ([[graft.gen.ColumnExprs]]).
  *
  * A fixed-length generated string was the built-in composition
  * `substring(concat(md5(concat_ws('/', seed, id, 'name/s0', idx…)), md5(…'name/s1'…), …), 1, length)`.
  * Every piece compiles, but per cell it formats each part to a string,
  * joins them, looks up a new `MessageDigest` per block (Spark's `md5` goes
  * through `DigestUtils`), hex-encodes all 32 chars of every block and then
  * cuts the result. [[SeededHex]] fuses the chain: one MD5 instance per
  * generated-code instance (per thread when interpreted), integers fed as
  * decimal digits without a string, and only `length` hex chars written
  * straight into the result's bytes. Output is bit-identical to the
  * composition it replaces.
  *
  * A generated double was Spark's `round(x, 6)`, which rounds every value
  * through `BigDecimal.valueOf(x).setScale(6, HALF_UP).doubleValue()`.
  * [[RoundHalfUp]] gives the same bits from double arithmetic and keeps
  * the BigDecimal route for the inputs where that arithmetic cannot decide
  * ([[roundHalfUp]]).
  */
object GenExpressions {

  private val md5PerThread: ThreadLocal[Md5Hex] = ThreadLocal.withInitial(() => new Md5Hex)

  /** `length` lowercase hex chars of the MD5 block chain
    * `md5(concat_ws('/', seed, id, '<tag>/s<b>', idx…))` for `b = 0, 1, …`.
    * `children` is `id +: idx`, all integral; like `concat_ws`, a NULL child
    * is skipped with its separator. Never NULL; `length <= 0` yields "". */
  case class SeededHex(children: Seq[Expression], seed: Long, tag: String, length: Int)
      extends Expression with Serializable {
    require(children.nonEmpty, "seeded_hex needs the id column")

    private val len = math.max(0, length)
    private val blocks = (len + 31) / 32
    private val head = seed.toString.getBytes(UTF_8)
    private val tags = Array.tabulate(blocks)(b => s"/$tag/s$b".getBytes(UTF_8))

    override def nullable: Boolean = false
    override def dataType: DataType = StringType
    override def checkInputDataTypes(): TypeCheckResult =
      children.map(_.dataType).find {
        case ByteType | ShortType | IntegerType | LongType => false
        case _ => true
      } match {
        case Some(t) => TypeCheckResult.TypeCheckFailure(
          s"seeded_hex expects integral inputs, got $t")
        case None => TypeCheckResult.TypeCheckSuccess
      }

    override def eval(input: InternalRow): Any = {
      val vals = children.map(c => c.eval(input)).toArray
      val md = md5PerThread.get()
      val out = new Array[Byte](len)
      var b = 0
      while (b < blocks) {
        md.bytes(head)
        md.part(vals(0))
        md.bytes(tags(b))
        var i = 1
        while (i < vals.length) { md.part(vals(i)); i += 1 }
        md.hexInto(out, b * 32, math.min(32, len - b * 32))
        b += 1
      }
      UTF8String.fromBytes(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val evals = children.map(_.genCode(ctx))
      val md5 = classOf[Md5Hex].getName
      val md = ctx.addMutableState(md5, "seededHexMd5", v => s"$v = new $md5();")
      val headRef = ctx.addReferenceObj("seededHexHead", head, "byte[]")
      val tagsRef = ctx.addReferenceObj("seededHexTags", tags, "byte[][]")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      def part(e: ExprCode) =
        s"if (!${e.isNull}) { $md.sep(); $md.decimal((long) ${e.value}); }"
      ev.copy(code = code"""
        |${evals.map(_.code).mkString("\n")}
        |byte[] $out = new byte[$len];
        |for (int $b = 0; $b < $blocks; $b++) {
        |  $md.bytes($headRef);
        |  ${part(evals.head)}
        |  $md.bytes($tagsRef[$b]);
        |  ${evals.tail.map(part).mkString("\n")}
        |  $md.hexInto($out, $b * 32, Math.min(32, $len - $b * 32));
        |}
        |UTF8String ${ev.value} = UTF8String.fromBytes($out);
        |""".stripMargin, isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
  }

  /** `seeded_hex` over `id +: idx`; see [[SeededHex]]. */
  def seeded_hex(seed: Long, id: Column, tag: String, idx: Seq[Column], length: Int): Column =
    GraftBridge.toColumn(SeededHex((id +: idx).map(GraftBridge.toExpression), seed, tag, length))

  /** 10^0 … 10^15, each exact in a double. */
  private val Pow10: Array[Double] = Array.iterate(1.0, 16)(_ * 10)

  /** Spark's double `round(x, scale)`: `x` rounded HALF_UP at `scale`
    * decimal places of its shortest decimal form, bit for bit.
    *
    * Fast path: y = |x|·10^scale in double, then floor or ceil of y by its
    * fraction against 0.5, then c / 10^scale. The decimal form of `x` and
    * the product y each sit within a few ulps of the exact |x|·10^scale, so
    * whenever the fraction is clear of 0.5 by more than y·1e-13 + 1e-9 both
    * round to the same integer c. With |c| < 2^52 and a scale of 0–15,
    * `BigDecimal.doubleValue()` returns the correctly rounded quotient
    * c / 10^scale, which is what the double division gives. A zero result
    * is +0.0 (BigDecimal has no −0), and the sign of `x` carries over.
    *
    * Everything else takes Spark's BigDecimal route: a near-tie, y ≥ 4e15,
    * NaN or ±∞ (returned as is), or a scale outside 0–15. */
  def roundHalfUp(x: Double, scale: Int): Double = {
    if (scale >= 0 && scale < Pow10.length) {
      val p = Pow10(scale)
      val y = math.abs(x) * p
      if (y < 4e15) { // false for NaN and ∞ too
        val f = math.floor(y)
        val d = (y - f) - 0.5
        if (math.abs(d) > y * 1e-13 + 1e-9) {
          val c = if (d < 0) f else f + 1
          return if (c == 0) 0.0 else if (x < 0) -(c / p) else c / p
        }
      }
    }
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** [[roundHalfUp]] as a Catalyst expression: equal to Spark's
    * `round(child, scale)` on a double, compiled to one static call. */
  case class RoundHalfUp(child: Expression, scale: Int)
      extends UnaryExpression with Serializable {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"round_half_up expects a double, got ${child.dataType}")

    override protected def nullSafeEval(input: Any): Any =
      roundHalfUp(input.asInstanceOf[Double], scale)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.GenExpressions.roundHalfUp($c, $scale)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** `round(e, scale)` on a double column; see [[RoundHalfUp]]. */
  def round_half_up(e: Column, scale: Int): Column =
    GraftBridge.toColumn(RoundHalfUp(GraftBridge.toExpression(e), scale))
}

/** One reusable MD5 instance fed a message piece by piece, with decimal
  * integers encoded in place. Not thread-safe: each generated-code instance
  * owns one, and interpreted evaluation takes one per thread. */
final class Md5Hex {
  private val md = MessageDigest.getInstance("MD5")
  private val digest = new Array[Byte](16)
  private val digits = new Array[Byte](20)

  def bytes(b: Array[Byte]): Unit = md.update(b, 0, b.length)

  def sep(): Unit = md.update('/'.toByte)

  /** `v` as Spark's `cast(v AS string)` spells it. */
  def decimal(v: Long): Unit =
    if (v < 0) bytes(java.lang.Long.toString(v).getBytes(UTF_8))
    else {
      var x = v
      var p = digits.length
      while ({ p -= 1; digits(p) = ('0' + x % 10).toByte; x /= 10; x != 0 }) ()
      md.update(digits, p, digits.length - p)
    }

  /** A separator and `v` unless `v` is NULL (`concat_ws` skips NULLs). */
  def part(v: Any): Unit = if (v != null) {
    sep()
    decimal(v.asInstanceOf[Number].longValue)
  }

  /** Completes the message and writes the first `n` lowercase hex chars of
    * its digest to `out` at `off`; the instance is then ready for the next. */
  def hexInto(out: Array[Byte], off: Int, n: Int): Unit = {
    md.digest(digest, 0, 16)
    var i = 0
    while (i < n) {
      val byte = digest(i >> 1)
      out(off + i) = Md5Hex.HexDigits(if ((i & 1) == 0) (byte >> 4) & 0xf else byte & 0xf)
      i += 1
    }
  }
}

object Md5Hex {
  private val HexDigits: Array[Byte] = "0123456789abcdef".getBytes(UTF_8)
}
