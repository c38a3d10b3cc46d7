package graft.functions

import com.google.common.hash.Hashing
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog sketch compatible with the reference's layout:
  * p = 14 (m = 16384 registers, 16 KiB dense), register index = low 14 bits
  * of murmur3-x64-128(value, seed=0) low half, rho = 1 + count of zero bits
  * starting at bit 14 (standard HLL; the reference's GetHLLValueFunctor
  * /root/reference/query/functor.hpp:446-471 stores a 0-based count, but its
  * estimator /root/reference/query/common/hll.go:734-771 is the standard
  * 1-based formula — simulation shows the 0-based reading undercounts 2×, so
  * we keep the standard semantics the estimator assumes).
  *
  * Estimator: alpha*m^2 / sum(2^-rho), linear counting below the precision-14
  * threshold 15500 (hll.go:760-771), floored to a whole number. The empirical
  * HLL++ bias table is intentionally not replicated.
  *
  * Sketch wire format (hll.go Encode/Decode): dense = 16384 raw register
  * bytes; sparse (< 4096 non-zero registers) = 3 bytes per record,
  * little-endian uint16 index + uint8 rho.
  */
object Hll {
  val P: Int = 14
  val M: Int = 1 << P
  private val DenseThreshold = M / 4 // 4096, below which sparse encoding wins

  /** Register value for one hashed input: (rho << 16) | index — the same
    * packed layout as the reference's get_hll_value.
    */
  def registerValue(hash: Long): Int = {
    val index = (hash & (M - 1)).toInt
    val rest = hash >>> P
    val rho = if (rest == 0) (64 - P + 1) else java.lang.Long.numberOfTrailingZeros(rest) + 1
    (rho << 16) | index
  }

  // one immutable, thread-safe HashFunction for every row — Guava's
  // seeded factory allocates a new function object per call, and hashAny
  // sits on the per-row update path of the aggregate
  private val Mm3 = Hashing.murmur3_128(0)

  def hashAny(v: Any, dt: DataType): Long = dt match {
    case LongType => Mm3.hashLong(v.asInstanceOf[Long]).asLong()
    case IntegerType => Mm3.hashInt(v.asInstanceOf[Int]).asLong()
    // the reference hashes sizeof(value) bytes (2 for int16), not a widened 4
    case ShortType =>
      val s = v.asInstanceOf[Short]
      Mm3.hashBytes(Array((s & 0xFF).toByte, ((s >> 8) & 0xFF).toByte)).asLong()
    case ByteType => Mm3.hashBytes(Array(v.asInstanceOf[Byte])).asLong()
    case DoubleType =>
      Mm3.hashLong(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])).asLong()
    case FloatType =>
      Mm3.hashInt(java.lang.Float.floatToIntBits(v.asInstanceOf[Float])).asLong()
    case StringType => Mm3.hashBytes(v.asInstanceOf[UTF8String].getBytes).asLong()
    case BinaryType => Mm3.hashBytes(v.asInstanceOf[Array[Byte]]).asLong()
    case TimestampType => Mm3.hashLong(v.asInstanceOf[Long]).asLong()
    case other => throw new IllegalArgumentException(s"hll: unsupported type $other")
  }

  def insert(regs: Array[Byte], hash: Long): Unit = {
    val rv = registerValue(hash)
    val idx = rv & 0xFFFF
    val rho = (rv >> 16).toByte
    if ((regs(idx) & 0xFF) < (rho & 0xFF)) regs(idx) = rho
  }

  def mergeInto(into: Array[Byte], from: Array[Byte]): Unit = {
    var i = 0
    while (i < M) {
      if ((from(i) & 0xFF) > (into(i) & 0xFF)) into(i) = from(i)
      i += 1
    }
  }

  def estimate(regs: Array[Byte]): Long = {
    var sum = 0.0
    var nonZero = 0
    var i = 0
    while (i < M) {
      val r = regs(i) & 0xFF
      if (r != 0) nonZero += 1
      sum += 1.0 / java.lang.Math.scalb(1.0, r)
      i += 1
    }
    val m = M.toDouble
    val alpha = 0.7213 / (1 + 1.079 / m)
    var est = alpha * m * m / sum
    if (nonZero < M) {
      val lc = m * math.log(m / (m - nonZero))
      if (lc <= 15500.0) est = lc
    }
    est.toLong
  }

  /** Encode as the reference's cache format: sparse 3-byte records below
    * the dense threshold, raw 16 KiB dense otherwise.
    */
  def encode(regs: Array[Byte]): Array[Byte] = {
    var nonZero = 0
    var i = 0
    while (i < M) { if (regs(i) != 0) nonZero += 1; i += 1 }
    if (nonZero >= DenseThreshold) regs.clone()
    else {
      val out = new Array[Byte](nonZero * 3)
      var o = 0
      i = 0
      while (i < M) {
        if (regs(i) != 0) {
          out(o) = (i & 0xFF).toByte
          out(o + 1) = ((i >> 8) & 0xFF).toByte
          out(o + 2) = regs(i)
          o += 3
        }
        i += 1
      }
      out
    }
  }

  def decode(data: Array[Byte]): Array[Byte] = {
    if (data.length == M) data.clone()
    else {
      require(data.length % 3 == 0, s"bad sparse hll length ${data.length}")
      val regs = new Array[Byte](M)
      var i = 0
      while (i < data.length) {
        val idx = (data(i) & 0xFF) | ((data(i + 1) & 0xFF) << 8)
        val rho = data(i + 2)
        if ((rho & 0xFF) > (regs(idx) & 0xFF)) regs(idx) = rho
        i += 3
      }
      regs
    }
  }

  // ---- Column API -------------------------------------------------------

  /** countDistinctHLL(x): approximate distinct count as a BIGINT. */
  def hllEstimate(c: Column): Column =
    Bridge.column(HllAggregate(expression(c), sketchOutput = false).toAggregateExpression())

  /** hll sketch bytes (mergeable, reference cache encoding). */
  def hllSketch(c: Column): Column =
    Bridge.column(HllAggregate(expression(c), sketchOutput = true).toAggregateExpression())

  /** Merge pre-computed sketches (binary column) back into an estimate —
    * the distributed partial/final merge the reference broker performs
    * (/root/reference/broker/result_merge.go:42-141).
    */
  def hllMergeEstimate(c: Column): Column =
    Bridge.column(HllMergeAggregate(expression(c), sketchOutput = false).toAggregateExpression())

  /** Scalar get_hll_value(x): (rho << 16) | registerIndex, the reference's
    * precomputed HLL register column encoding.
    */
  def getHllValue(c: Column): Column = Bridge.column(GetHllValue(expression(c)))

  /** hll(x) over a PRECOMPUTED register-value column (the reference's
    * `isHLLColumn` path, /root/reference/query/context/query_context_helper.go:540-577):
    * each input is an int packed as (rho << 16) | index; the aggregate
    * register-max merges them into a sketch and estimates.
    */
  def hllFromRegisters(c: Column): Column =
    Bridge.column(HllFromRegistersAggregate(expression(c)).toAggregateExpression())

  /** Sketch-output variant of [[hllFromRegisters]] for the binary wire
    * path: register-max merges a precomputed register column into
    * MERGEABLE sketch bytes (re-hashing register values through the
    * murmur3 path would produce a different, wrong sketch).
    */
  def hllFromRegistersSketch(c: Column): Column =
    Bridge.column(HllFromRegistersAggregate(expression(c), sketchOutput = true)
      .toAggregateExpression())

  private def expression(c: Column): Expression = Bridge.expression(c)
}

/** TypedImperativeAggregate building an HLL register array from raw values. */
case class HllAggregate(
    child: Expression,
    sketchOutput: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](Hll.M)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Hll.insert(buffer, Hll.hashAny(v, child.dataType))
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    Hll.mergeInto(buffer, other)
    buffer
  }

  override def eval(buffer: Array[Byte]): Any =
    if (sketchOutput) Hll.encode(buffer) else Hll.estimate(buffer)

  override def serialize(buffer: Array[Byte]): Array[Byte] = Hll.encode(buffer)
  override def deserialize(storage: Array[Byte]): Array[Byte] = Hll.decode(storage)

  override def dataType: DataType = if (sketchOutput) BinaryType else LongType
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(o: Int): HllAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllAggregate =
    copy(child = c)
  override def prettyName: String = if (sketchOutput) "hll_sketch" else "hll_estimate"
}

/** Re-aggregates serialized sketches (binary column, reference encoding). */
case class HllMergeAggregate(
    child: Expression,
    sketchOutput: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](Hll.M)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) Hll.mergeInto(buffer, Hll.decode(v.asInstanceOf[Array[Byte]]))
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    Hll.mergeInto(buffer, other)
    buffer
  }

  override def eval(buffer: Array[Byte]): Any =
    if (sketchOutput) Hll.encode(buffer) else Hll.estimate(buffer)

  override def serialize(buffer: Array[Byte]): Array[Byte] = Hll.encode(buffer)
  override def deserialize(storage: Array[Byte]): Array[Byte] = Hll.decode(storage)

  override def dataType: DataType = if (sketchOutput) BinaryType else LongType
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(o: Int): HllMergeAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllMergeAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllMergeAggregate =
    copy(child = c)
  override def prettyName: String = "hll_merge"
}

/** Aggregates a precomputed register-value column (packed rho<<16|index
  * ints) into an HLL estimate — the reference's hll(col) measure over an
  * isHLLColumn (/root/reference/query/common/hll.go:134-200 register-max
  * merge semantics).
  */
case class HllFromRegistersAggregate(
    child: Expression,
    sketchOutput: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](Hll.M)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val rv = v match {
        case i: Int => i
        case l: Long => l.toInt
        case s: Short => s.toInt
        case other => throw new IllegalArgumentException(
          s"hll register column must be integral, got $other")
      }
      val idx = rv & 0xFFFF
      val rho = ((rv >> 16) & 0xFF).toByte
      if (idx < Hll.M && (buffer(idx) & 0xFF) < (rho & 0xFF)) buffer(idx) = rho
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    Hll.mergeInto(buffer, other)
    buffer
  }

  override def eval(buffer: Array[Byte]): Any =
    if (sketchOutput) Hll.encode(buffer) else Hll.estimate(buffer)

  override def serialize(buffer: Array[Byte]): Array[Byte] = Hll.encode(buffer)
  override def deserialize(storage: Array[Byte]): Array[Byte] = Hll.decode(storage)

  override def dataType: DataType = if (sketchOutput) BinaryType else LongType
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(o: Int): HllFromRegistersAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllFromRegistersAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllFromRegistersAggregate =
    copy(child = c)
  override def prettyName: String = "hll_from_registers"
}

/** Scalar register encoding, the reference's get_hll_value
  * (/root/reference/query/functor.hpp:446-471, packed rho<<16|index).
  */
case class GetHllValue(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    Hll.registerValue(Hll.hashAny(v, child.dataType))
  override protected def withNewChildInternal(c: Expression): GetHllValue =
    copy(child = c)
  override def prettyName: String = "get_hll_value"
}
