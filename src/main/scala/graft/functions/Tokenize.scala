package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass tokenizers — the hot inner loop of every text operator
  * (token counts, quality stats, language id and fingerprints all start
  * from `TextOps.tokens`). Semantically identical to the regex
  * formulations (`TokenizeSpec` pins equality property-style, values AND
  * schema):
  *
  *   ws(s)     == split(trim(s), "\\s+")               (java.util.regex)
  *   bpeish(s) == regexp_extract_all(s,
  *                  "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]", 0)
  *
  * but one byte walk instead of a java.util.regex pass per row. The
  * DuckDB oracles keep the regex spelling on their side, so equality is
  * a correctness contract, not a style preference:
  *
  * - `trim` strips 0x20 bytes only (Spark's trim), then Java-split
  *   semantics with limit=-1: a leading separator run yields a leading
  *   empty token, a trailing run a trailing empty token, and a
  *   no-separator input (including "") is returned whole.
  * - Java's `\s` (no UNICODE_CHARACTER_CLASS) is exactly
  *   `[ \t\n\x0B\f\r]` — all single ASCII bytes, so a byte walk over
  *   UTF-8 never splits inside a multi-byte character (continuation
  *   bytes are ≥ 0x80).
  * - The BPE-ish alternation emits letter runs, digit runs, and every
  *   other non-whitespace CHARACTER singly; for non-ASCII that is one
  *   token per code point, so the walk steps by UTF-8 sequence length
  *   (Java regex character classes are code-point-aware; a surrogate
  *   pair is ONE `[^...]` match).
  */
object Tokenize {

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Whitespace tokenization kernel (called from generated code):
    * `split(trim(s), "\\s+")` exactly.
    */
  def ws(s: UTF8String): GenericArrayData = {
    val b = s.getBytes
    var lo = 0
    var hi = b.length
    while (lo < hi && b(lo) == ' ') lo += 1
    while (hi > lo && b(hi - 1) == ' ') hi -= 1
    val out = new java.util.ArrayList[AnyRef](8)
    var idx = lo
    var i = lo
    var matched = false
    while (i < hi) {
      if (isWs(b(i))) {
        matched = true
        out.add(UTF8String.fromBytes(b, idx, i - idx))
        i += 1
        while (i < hi && isWs(b(i))) i += 1
        idx = i
      } else i += 1
    }
    if (!matched) return new GenericArrayData(
      Array[AnyRef](UTF8String.fromBytes(b, lo, hi - lo)))
    out.add(UTF8String.fromBytes(b, idx, hi - idx))
    new GenericArrayData(out.toArray)
  }

  /** UTF-8 sequence length from the lead byte (1 for continuation/invalid
    * bytes so a malformed stream still advances).
    */
  @inline private def seqLen(b: Byte): Int = {
    val u = b & 0xff
    if (u < 0x80) 1
    else if (u >= 0xf0) 4
    else if (u >= 0xe0) 3
    else if (u >= 0xc0) 2
    else 1
  }

  /** BPE-ish pre-tokenization kernel:
    * `regexp_extract_all(s, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]", 0)`.
    */
  def bpeish(s: UTF8String): GenericArrayData = {
    val b = s.getBytes
    val n = b.length
    val out = new java.util.ArrayList[AnyRef](16)
    var i = 0
    while (i < n) {
      val c = b(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        val st = i
        i += 1
        while (i < n && ((b(i) >= 'A' && b(i) <= 'Z') || (b(i) >= 'a' && b(i) <= 'z'))) i += 1
        out.add(UTF8String.fromBytes(b, st, i - st))
      } else if (c >= '0' && c <= '9') {
        val st = i
        i += 1
        while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
        out.add(UTF8String.fromBytes(b, st, i - st))
      } else if (isWs(c)) {
        i += 1
      } else {
        val len = math.min(seqLen(c), n - i)
        out.add(UTF8String.fromBytes(b, i, len))
        i += len
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Column forms. */
  def wsCol(c: Column): Column = Bridge.column(TokenizeWsExpr(Bridge.expression(c)))
  def bpeishCol(c: Column): Column = Bridge.column(BpeishTokensExpr(Bridge.expression(c)))
}

private[functions] trait TokenizeExprBase extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string child, got ${child.dataType.simpleString}")
}

/** Codegen'd `split(trim(c), "\\s+")` (no regex in the generated code —
  * a straight static call into [[Tokenize.ws]]).
  */
case class TokenizeWsExpr(child: Expression) extends TokenizeExprBase {
  // schema-identical to the StringSplit builtin it replaces
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Tokenize.ws(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tokenize.ws($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenizeWsExpr =
    copy(child = newChild)
  override def prettyName: String = "tokenize_ws"
}

/** Codegen'd BPE-ish pre-tokenization (see [[Tokenize.bpeish]]). */
case class BpeishTokensExpr(child: Expression) extends TokenizeExprBase {
  // schema-identical to the RegExpExtractAll builtin it replaces (which
  // declares nullable elements even though extraction group 0 never is)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override protected def nullSafeEval(input: Any): Any =
    Tokenize.bpeish(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tokenize.bpeish($c)")
  override protected def withNewChildInternal(newChild: Expression): BpeishTokensExpr =
    copy(child = newChild)
  override def prettyName: String = "tokenize_bpeish"
}
