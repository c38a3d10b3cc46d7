package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle hashing — the md5-prefix hash of every word n-gram in
  * one pass over a token array, replacing the three-expression chain
  *
  *   transform(shingles(toks, n), g => conv(substring(md5(g),1,15),16,10))
  *
  * that the gram-keyed dedup family (winnowing, containment, n-gram df)
  * evaluates per window. The chain allocates per gram: an `array_join`
  * UTF8String (byte copy), the md5 expression's own `getBytes` copy, a
  * 32-char hex string, a substring, and a radix parse in `conv`. The
  * kernel here extracts each token's bytes ONCE per document, streams
  * window bytes straight into a thread-local MessageDigest (digest over
  * incremental updates == digest over the concatenation), and reads the
  * 60-bit value from the raw digest bytes — no hex round trip at all.
  *
  * Value-identical to the chain by construction ([[Sketches.hash60]] is
  * the same first-15-hex-chars read): gram oracles keep their
  * `('0x' || substring(md5(g), 1, 15))::BIGINT` spelling unchanged.
  *
  * Null semantics match `shingles` exactly: a NULL token array yields an
  * EMPTY hash array (the `when(size >= n)...otherwise(array())` shape is
  * never null), and null ELEMENTS are skipped with no separator, as
  * `array_join` does.
  */
object GramHash {

  /** Shared empty result (null input, short documents). */
  val Empty: GenericArrayData = new GenericArrayData(new Array[Long](0))

  private val localMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val Space = Array[Byte](' ')

  /** Kernel (called from generated code): hash60 of each space-joined
    * n-gram of `toks`, ascending window order.
    */
  def shingleHash60(toks: ArrayData, n: Int): ArrayData = {
    if (toks == null) return Empty
    val count = toks.numElements()
    if (count < n) return Empty
    // token bytes extracted once per document, reused across the n
    // windows each token participates in
    val tb = new Array[Array[Byte]](count)
    var j = 0
    while (j < count) {
      if (!toks.isNullAt(j)) tb(j) = toks.getUTF8String(j).getBytes
      j += 1
    }
    val md = localMd5.get()
    val out = new Array[Long](count - n + 1)
    var i = 0
    while (i <= count - n) {
      // array_join semantics: null elements skipped, separator only
      // between EMITTED tokens
      var emitted = 0
      var k = i
      while (k < i + n) {
        val b = tb(k)
        if (b != null) {
          if (emitted > 0) md.update(Space)
          md.update(b)
          emitted += 1
        }
        k += 1
      }
      val d = md.digest() // resets for the next window
      var v = 0L
      var p = 0
      while (p < 7) { v = (v << 8) | (d(p) & 0xffL); p += 1 }
      out(i) = (v << 4) | ((d(7) & 0xf0L) >> 4)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column form: `shingle_hash60(toks, n)` — array<long>, one hash per
    * n-token window; empty for null/short inputs.
    */
  def shingleHash60Col(toks: Column, n: Int): Column =
    Bridge.column(ShingleHash60Expr(Bridge.expression(toks), n))
}

/** Codegen'd fused shingle-hash (see [[GramHash]]). Never null: the
  * `shingles(...)` formulation it replaces returns an empty array for
  * null input, so this does too.
  */
case class ShingleHash60Expr(child: Expression, n: Int)
  extends UnaryExpression {
  require(n >= 1, s"shingle size $n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    GramHash.shingleHash60(v.asInstanceOf[ArrayData], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the kernel maps a null array to the shared empty result itself, so
    // the generated code is a single static call (a Scala object val is
    // NOT a Java static field — don't reference Empty from codegen)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.GramHash.shingleHash60(
            ${c.isNull} ? null : ${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHash60Expr =
    copy(child = newChild)
  override def prettyName: String = "shingle_hash60"
}
