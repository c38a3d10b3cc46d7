package graft.exec

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import graft.functions.Hll

/** BYTE-EXACT reader/writer for the reference's `application/hll` wire
  * format (/root/reference/query/common/hll.go:44-70 layout doc; parser at
  * :364-500, envelope at :961-990) — the body of every `application/hll`
  * response, from a member ([[QueryService.aqlBinary]]) and from the
  * broker's merge alike. The reader replays the reference's golden
  * fixtures (`testing/data/query/hll*`, written by
  * query/hll_test.go:210-271), so compat clients that parse the reference
  * layout read these bodies unchanged:
  *
  *  - envelope: `[u32 0xACED0102][u32 pad]` then per query
  *    `[u32 size][u8 isErr][3 pad][body]`; error bodies are the error
  *    string, padded by the reference's `(8-(n&7))&8` arithmetic — 8 bytes
  *    when already aligned, none otherwise (hll.go:984, reproduced
  *    faithfully)
  *  - result body: `[u8 numEnumColumns][5×u8 dims-per-width (16/8/4/2/1
  *    bytes)][pad 8][u32 resultSize][u32 paddedDimVectorLength]
  *    [u8 dimIndexes…][pad 8][u32 dataTypes…][pad 8][enum sections…]`,
  *    then width-bucketed dim value vectors + per-slot validity bytes,
  *    `[u16 counts…]`, and per-row HLL data: the count field is the row's
  *    non-zero register count (hll.go:1107-1121 writes NonZeroRegisters
  *    unconditionally); below DenseThreshold the row is `count`
  *    little-endian u32 sparse registers (`rho<<16 | index`), at or above
  *    it the full 16 KiB dense register array (hll.go:547-573). Some GPU
  *    fixtures store 16384 for dense rows — readers only branch on
  *    `count >= DenseThreshold`, so both encodings parse
  */
object RefHllWire {

  val Magic: Int = 0xACED0102
  val DenseDataLength: Int = 16384
  val DenseThreshold: Int = DenseDataLength / 4
  val EnumDelimiter = "\u0000\n"

  /** Slot widths in bytes for the 5 entries of dims-per-width. */
  private val Widths = Array(16, 8, 4, 2, 1)

  /** One result row: logical dim values (raw, sign-interpreted) + the
    * dense 16 KiB register array (canonical in-memory form) + the stored
    * count (non-zero registers; >= DenseThreshold means dense encoding).
    */
  /** `sparse` preserves the file's register order (goldens are not always
    * index-ascending) so a decode→encode round trip is byte-exact.
    */
  final case class RefRow(dims: Seq[Option[Long]], registers: Array[Byte],
      storedCount: Int, sparse: Option[Seq[(Int, Int)]] = None)

  final case class RefBlock(
      numDimsPerDimWidth: Seq[Int],
      dimIndexes: Seq[Int],
      dataTypes: Seq[Long],
      enumDicts: Map[Int, Seq[String]],
      rows: Seq[RefRow]) {

    def estimates: Seq[Long] = rows.map(r => Hll.estimate(r.registers))

    /** Logical dim value of row r at dim d rendered like the reference's
      * ReadDimension (unsigned types print unsigned; enum dims decode
      * through their dictionary; null → None).
      */
    def dimString(r: Int, d: Int): Option[String] =
      rows(r).dims(d).map { v =>
        enumDicts.get(d) match {
          case Some(dict) if v >= 0 && v < dict.length => dict(v.toInt)
          case _ => v.toString
        }
      }
  }

  private def aligned(n: Int): Int = (n + 7) / 8 * 8

  private def signedOf(dataType: Long): Boolean = ((dataType >> 16) & 0xFF) match {
    case 0x01 | 0x03 | 0x05 | 0x0d => true // Int8, Int16, Int32, Int64
    case _ => false
  }

  private def widthOfSlot(dimsPerWidth: Seq[Int], slot: Int): Int = {
    var start = 0
    var g = 0
    while (g < dimsPerWidth.length) {
      if (start + dimsPerWidth(g) > slot) return Widths(g)
      start += dimsPerWidth(g)
      g += 1
    }
    throw new IllegalArgumentException(s"slot $slot out of range")
  }

  /** Start offsets of a slot's value and validity bytes inside the dim
    * vector (ref query/common/dimval.go:122-144).
    */
  private def slotOffsets(dimsPerWidth: Seq[Int], slot: Int, n: Int): (Int, Int) = {
    var valueOffset = 0
    var start = 0
    var g = 0
    var done = false
    while (g < dimsPerWidth.length && !done) {
      if (start + dimsPerWidth(g) > slot) {
        valueOffset += (slot - start) * n * Widths(g)
        done = true
      } else {
        start += dimsPerWidth(g)
        valueOffset += dimsPerWidth(g) * n * Widths(g)
        g += 1
      }
    }
    val valueBytes = dimsPerWidth.zip(Widths).map { case (c, w) => c * w }.sum
    (valueOffset, (valueBytes + slot) * n)
  }

  /** Parse a whole `hll_query_results`-shaped buffer: magic envelope, then
    * result blocks (Right) and error strings (Left).
    */
  def readResults(data: Array[Byte]): Seq[Either[String, RefBlock]] = {
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val magic = buf.getInt()
    require(magic == Magic, f"bad magic 0x$magic%08X")
    buf.getInt() // padding
    val out = Seq.newBuilder[Either[String, RefBlock]]
    while (buf.remaining() >= 8) {
      val size = buf.getInt()
      val isErr = buf.get()
      buf.position(buf.position() + 3)
      val body = new Array[Byte](size)
      buf.get(body)
      if (isErr == 1) {
        out += Left(new String(body, StandardCharsets.UTF_8))
        // the reference pads 8 extra bytes ONLY when the error is already
        // 8-aligned ((8-(n&7))&8, hll.go:984)
        val pad = (8 - (size & 7)) & 8
        buf.position(math.min(buf.position() + pad, data.length))
      } else {
        out += Right(readBlock(body))
      }
    }
    out.result()
  }

  /** Parse one serialized result body (parseTimeseriesHLLResult,
    * hll.go:364-500). 16-byte (UUID) dim slots are not supported — no
    * golden exercises them and a Long cannot carry one.
    */
  def readBlock(body: Array[Byte]): RefBlock = {
    // empty result buffer -> empty result (hll.go:365-368)
    if (body.isEmpty)
      return RefBlock(Seq(0, 0, 0, 0, 0), Nil, Nil, Map.empty, Nil)
    val buf = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val numEnumColumns = buf.get().toInt & 0xFF
    val dimsPerWidth = (0 until 5).map(_ => buf.get().toInt & 0xFF)
    buf.position(aligned(buf.position()))
    val resultSize = buf.getInt()
    val paddedDimLen = buf.getInt()
    val totalDims = dimsPerWidth.sum
    val dimIndexes = (0 until totalDims).map(_ => buf.get().toInt & 0xFF)
    buf.position(buf.position() + (aligned(totalDims) - totalDims))
    val dataTypes = (0 until totalDims).map(_ => buf.getInt().toLong & 0xFFFFFFFFL)
    buf.position(buf.position() + (aligned(totalDims * 4) - totalDims * 4))
    val enumDicts = (0 until numEnumColumns).map { _ =>
      val nBytes = buf.getInt()
      val dimIdx = buf.getShort().toInt & 0xFFFF
      buf.position(buf.position() + 2)
      val raw = new Array[Byte](nBytes)
      buf.get(raw)
      val s = new String(raw, StandardCharsets.UTF_8)
      val cases = s.split(java.util.regex.Pattern.quote(EnumDelimiter), -1)
      // trailing delimiter produces one empty tail element; alignment
      // padding may add NUL noise after it
      dimIdx -> cases.take(math.max(0, cases.length - 1)).toSeq
    }.toMap

    val headerSize = buf.position()
    val dimVecStart = headerSize
    val countStart = dimVecStart + paddedDimLen
    val hllStart = countStart + aligned(2 * resultSize)

    def slotWidth(slot: Int) = widthOfSlot(dimsPerWidth, slot)

    val rows = Seq.newBuilder[RefRow]
    var hllOffset = hllStart
    var r = 0
    while (r < resultSize) {
      val dims = (0 until totalDims).map { i =>
        val slot = dimIndexes(i)
        val w = slotWidth(slot)
        require(w <= 8, "16-byte (UUID) dim slots are not supported")
        val (vOff, nOff) = slotOffsets(dimsPerWidth, slot, resultSize)
        val valid = body(dimVecStart + nOff + r) != 0
        if (!valid) None
        else {
          val base = dimVecStart + vOff + r * w
          var v = 0L
          var b = w - 1
          while (b >= 0) { v = (v << 8) | (body(base + b) & 0xFFL); b -= 1 }
          if (signedOf(dataTypes(i)) && w < 8) {
            val shift = 64 - w * 8
            v = (v << shift) >> shift
          }
          Some(v)
        }
      }
      val count = ((body(countStart + 2 * r) & 0xFF) |
        ((body(countStart + 2 * r + 1) & 0xFF) << 8))
      val regs = new Array[Byte](DenseDataLength)
      var sparse: Option[Seq[(Int, Int)]] = None
      if (count < DenseThreshold) {
        val regList = Seq.newBuilder[(Int, Int)]
        var i = 0
        while (i < count) {
          val word = ((body(hllOffset) & 0xFF) | ((body(hllOffset + 1) & 0xFF) << 8) |
            ((body(hllOffset + 2) & 0xFF) << 16) | ((body(hllOffset + 3) & 0xFF) << 24))
          val idx = word & 0xFFFF
          val rho = (word >> 16) & 0xFF
          regList += ((idx, rho))
          if (rho > (regs(idx) & 0xFF)) regs(idx) = rho.toByte
          hllOffset += 4
          i += 1
        }
        sparse = Some(regList.result())
      } else {
        System.arraycopy(body, hllOffset, regs, 0, DenseDataLength)
        hllOffset += DenseDataLength
      }
      rows += RefRow(dims, regs, count, sparse)
      r += 1
    }
    RefBlock(dimsPerWidth, dimIndexes, dataTypes, enumDicts, rows.result())
  }

  /** Serialize one result body, byte-identical to the reference's
    * SerializeHLL for the same inputs (hll_test.go:120-271 asserts this
    * layout region by region).
    */
  def writeBlock(b: RefBlock): Array[Byte] = {
    val totalDims = b.dimIndexes.length
    val n = b.rows.length
    val enumSections = b.enumDicts.toSeq.sortBy(_._1).map { case (d, cases) =>
      val raw = (cases.map(_ + EnumDelimiter)).mkString
        .getBytes(StandardCharsets.UTF_8)
      (d, raw)
    }
    var headerSize = aligned(1 + 5) + 8 + aligned(totalDims) + aligned(totalDims * 4)
    headerSize += enumSections.map(e => 8 + aligned(e._2.length)).sum

    val valueBytes = b.numDimsPerDimWidth.zip(Widths).map { case (c, w) => c * w }.sum
    val dimLen = aligned((valueBytes + totalDims) * n)
    val countLen = aligned(2 * n)
    val hllLen = aligned(b.rows.map(r =>
      if (r.storedCount < DenseThreshold) r.storedCount * 4 else DenseDataLength).sum)

    val out = new Array[Byte](headerSize + dimLen + countLen + hllLen)
    val buf = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(b.enumDicts.size.toByte)
    b.numDimsPerDimWidth.foreach(c => buf.put(c.toByte))
    buf.position(aligned(buf.position()))
    buf.putInt(n)
    buf.putInt(dimLen)
    b.dimIndexes.foreach(i => buf.put(i.toByte))
    buf.position(buf.position() + (aligned(totalDims) - totalDims))
    b.dataTypes.foreach(t => buf.putInt(t.toInt))
    buf.position(buf.position() + (aligned(totalDims * 4) - totalDims * 4))
    enumSections.foreach { case (d, raw) =>
      // the length field stores the 8-aligned size (CalculateEnumCasesBytes)
      buf.putInt(aligned(raw.length))
      buf.putShort(d.toShort)
      buf.position(buf.position() + 2)
      buf.put(raw)
      buf.position(buf.position() + (aligned(raw.length) - raw.length))
    }
    val dimVecStart = buf.position()
    // width-bucketed value vectors + per-slot validity bytes
    (0 until totalDims).foreach { i =>
      val slot = b.dimIndexes(i)
      val w = widthOfSlot(b.numDimsPerDimWidth, slot)
      val (vOff, nOff) = slotOffsets(b.numDimsPerDimWidth, slot, n)
      (0 until n).foreach { r =>
        val dv = b.rows(r).dims(i)
        val base = dimVecStart + vOff + r * w
        val v = dv.getOrElse(0L)
        var byteI = 0
        while (byteI < w) { out(base + byteI) = ((v >> (8 * byteI)) & 0xFF).toByte; byteI += 1 }
        out(dimVecStart + nOff + r) = if (dv.isDefined) 1 else 0
      }
    }
    buf.position(dimVecStart + dimLen)
    b.rows.foreach(r => buf.putShort(r.storedCount.toShort))
    buf.position(dimVecStart + dimLen + countLen)
    b.rows.foreach { r =>
      if (r.storedCount < DenseThreshold) {
        r.sparse match {
          case Some(regs) =>
            regs.foreach { case (idx, rho) => buf.putInt((rho << 16) | idx) }
          case None =>
            var idx = 0
            while (idx < DenseDataLength) {
              if (r.registers(idx) != 0)
                buf.putInt(((r.registers(idx) & 0xFF) << 16) | idx)
              idx += 1
            }
        }
      } else buf.put(r.registers, 0, DenseDataLength)
    }
    out
  }

  /** One-result envelope from logical rows, each a (dims, dense
    * registers) pair: a dim that has an entry in `dicts` carries its case
    * string, any other dim an integral value of AQL type `valueType(dim)`.
    * Enum dims type as SmallEnum, or BigEnum past 256 cases; slots are
    * assigned in width-descending order (dim_util.go:43-58); each row's
    * count field is its non-zero register count — the reference's result
    * writer stores NonZeroRegisters unconditionally (hll.go:1107-1121),
    * and readers take the dense branch from the same value.
    */
  def encodeResult(numDims: Int, dicts: Map[Int, Seq[String]],
      valueType: Int => Long,
      rows: Iterable[(Seq[Option[Any]], Array[Byte])]): Array[Byte] = {
    val dictIndex = dicts.map { case (d, cases) =>
      d -> cases.zipWithIndex.map { case (c, i) => c -> i.toLong }.toMap
    }
    val dimTypes = (0 until numDims).map { d =>
      dicts.get(d) match {
        case Some(cases) if cases.length <= 256 => 0x00080008L // SmallEnum
        case Some(_) => 0x00090010L // BigEnum
        case None => valueType(d)
      }
    }
    val widthOf = (t: Long) => ((t & 0xFFFF) / 8).toInt
    val slotOf = (0 until numDims).sortBy(d => -widthOf(dimTypes(d))).zipWithIndex.toMap
    val refRows = rows.map { case (dims, regs) =>
      val values = dims.zipWithIndex.map { case (v, d) =>
        v.map {
          case c: String => dictIndex(d)(c)
          case l: Long => l
        }
      }
      RefRow(values, regs, regs.count(_ != 0))
    }.toSeq
    val block = RefBlock(Widths.toSeq.map(w => dimTypes.count(widthOf(_) == w)),
      (0 until numDims).map(slotOf), dimTypes, dicts, refRows)
    writeResults(Seq(Right(writeBlock(block))))
  }

  /** Serialize the full envelope (HLLQueryResults, hll.go:961-990). */
  def writeResults(blocks: Seq[Either[String, Array[Byte]]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def putInt(v: Int): Unit =
      (0 until 4).foreach(i => bos.write((v >> (8 * i)) & 0xFF))
    putInt(Magic)
    putInt(0)
    blocks.foreach {
      case Right(body) =>
        putInt(body.length)
        bos.write(0)
        bos.write(new Array[Byte](3))
        bos.write(body)
      case Left(err) =>
        val raw = err.getBytes(StandardCharsets.UTF_8)
        putInt(raw.length)
        bos.write(1)
        bos.write(new Array[Byte](3))
        bos.write(raw)
        val pad = (8 - (raw.length & 7)) & 8 // reference arithmetic, verbatim
        if (pad > 0) bos.write(new Array[Byte](pad))
    }
    bos.toByteArray
  }
}
