package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd single-call form of the repo's standard md5-nibble draw
  * `conv(substring(md5(x), off, len), 16, 10) :: long` (r16 opt,
  * guide §4 "prefer built-ins that do less" taken one step further):
  * the three-builtin chain IS whole-stage-codegen'd, but per call it
  * materializes a 32-char hex UTF8String, allocates a substring copy,
  * and re-parses the window through `conv`'s general base-conversion
  * string walk. The hot draws run per (row × replicate) — q_bootstrap
  * alone is 32 draws/row — and per shingle in the MinHash/winnow/CDC
  * artifact builds, so the allocations are the measured cost. This
  * expression computes the SAME long straight from the digest bytes:
  * one MessageDigest call (thread-local instance, no per-row
  * getInstance), then shift/or over the selected nibble window.
  *
  * BIT-IDENTICAL to the chain it replaces for every reachable input
  * ([[graft.HashKernelSpec]] pins equality on random unicode strings,
  * all window widths in use, and NULL): the hex window of an md5
  * digest is always a valid base-16 numeral, `len ≤ 15` keeps the
  * value inside a signed long's positive range (the q_minhash 15-char
  * rule), and NULL input propagates NULL exactly as md5(NULL) did.
  * The DuckDB oracle is untouched — it keeps computing the substring
  * form; this is the Spark-side evaluation of the same value.
  */
case class Md5WindowU(child: Expression, off: Int, len: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_window_u"
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    Md5WindowU.window(input.asInstanceOf[UTF8String], off, len)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.Md5WindowU.window($c, $off, $len);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5WindowU {
  /** One MD5 instance per thread: MessageDigest.getInstance walks the
    * provider registry per call — measurable at per-shingle rates —
    * and digest() leaves the instance reset for reuse. */
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static kernel (static forwarder, callable from generated Java):
    * value of hex chars [off, off+len−1] (1-based, substring
    * convention) of md5(s) as a long. */
  def window(s: UTF8String, off: Int, len: Int): Long = {
    val digest = mdLocal.get().digest(s.getBytes)
    var v = 0L
    var i = off - 1
    val end = i + len
    while (i < end) {
      val b = digest(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf).toLong
      i += 1
    }
    v
  }
}

/** The same nibble-window parse over an ALREADY-hex string column —
  * for the digest-reuse sites (signaturesMd5 materializes 4 md5 hex
  * columns and reads two 15-char windows from each; recomputing the
  * digest per window would double the md5 calls the reuse exists to
  * halve). Registered as a session SQL function, so any SQL text can
  * call it: hex digits parse in either case, and a string shorter
  * than the window's last byte (off+len−1) yields NULL instead of a
  * read past its end. Equality with
  * `conv(substring(h, off, len), 16, 10) :: long` on hex input that
  * covers the window is pinned by [[graft.HashKernelSpec]].
  */
case class HexWindowU(child: Expression, off: Int, len: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "hex_window_u"
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    if (s.numBytes < off + len - 1) null else HexWindowU.window(s, off, len)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numBytes() < ${off + len - 1}) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.functions.HexWindowU.window($c, $off, $len); }"""
        .stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HexWindowU {
  /** Static kernel: parse hex chars [off, off+len−1] (1-based) of an
    * ASCII hex string of at least off+len−1 bytes as a long. */
  def window(s: UTF8String, off: Int, len: Int): Long = {
    var v = 0L
    var i = off - 1
    val end = i + len
    while (i < end) {
      val c = s.getByte(i)
      v = (v << 4) | (if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10).toLong
      i += 1
    }
    v
  }
}

object HashFunctions {

  private def winArgs(exprs: Seq[Expression], name: String): (Expression, Int, Int) =
    exprs match {
      case Seq(c, Literal(off: Int, IntegerType), Literal(len: Int, IntegerType)) =>
        require(off >= 1 && len >= 1 && len <= 15 && off + len - 1 <= 32,
          s"$name: window [off=$off, len=$len] must sit inside the 32 hex chars" +
            " with len <= 15 (signed-long positive range)")
        (c, off, len)
      case _ => throw new IllegalArgumentException(
        s"$name requires (string, int literal off, int literal len)")
    }

  /** Register `md5_window_u` / `hex_window_u`. Idempotent per session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("md5_window_u", exprs => {
      val (c, off, len) = winArgs(exprs, "md5_window_u")
      Md5WindowU(c, off, len)
    }, "built-in")
    reg.createOrReplaceTempFunction("hex_window_u", exprs => {
      val (c, off, len) = winArgs(exprs, "hex_window_u")
      HexWindowU(c, off, len)
    }, "built-in")
  }

  /** `conv(substring(md5(c), off, len), 16, 10) :: long` as one
    * codegen'd call. Registers on the thread's active session (query
    * construction is driver-side; analysis resolves the name against
    * the owning session's registry). */
  def md5WindowU(c: Column, off: Int, len: Int): Column = {
    register(SparkSession.active)
    call_function("md5_window_u", c, lit(off), lit(len))
  }

  /** `conv(substring(hexCol, off, len), 16, 10) :: long` over an
    * md5-hex column, as one codegen'd call. */
  def hexWindowU(c: Column, off: Int, len: Int): Column = {
    register(SparkSession.active)
    call_function("hex_window_u", c, lit(off), lit(len))
  }

  /** Integer value of the first `chars` hex chars of md5(doc_id) in
    * DuckDB SQL — mirrors SampleOps.hashDraw (Spark `conv`) nibble for
    * nibble.
    */
  private[graft] def duckHashDraw(chars: Int): String = {
    val h = s"substr(md5(CAST(doc_id AS VARCHAR)),1,$chars)"
    (1 to chars).map { i =>
      val weight = 1L << (4 * (chars - i))
      s"(strpos('0123456789abcdef', substr($h,$i,1)) - 1) * $weight"
    }.mkString("(", " + ", ")")
  }

  /** Hex-window→BIGINT nibble arithmetic over a hex string expression
    * `h`, reading `chars` nibbles starting at 1-based `from` (same
    * per-nibble form as [[duckHashDraw]]).
    */
  private[graft] def duckHexValue(h: String, from: Int, chars: Int): String =
    (0 until chars).map { i =>
      val weight = 1L << (4 * (chars - 1 - i))
      s"(strpos('0123456789abcdef', substr($h,${from + i},1)) - 1) * $weight"
    }.mkString("(", " + ", ")")
}
