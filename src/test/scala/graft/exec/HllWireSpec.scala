package graft.exec

import org.scalatest.funsuite.AnyFunSuite

/** The application/hll body: the reference's byte layout ([[RefHllWire]]). */
class HllWireSpec extends AnyFunSuite {

  // ---- reference golden fixtures (RefHllWire) -----------------------------

  private def golden(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"/root/reference/testing/data/query/$name"))

  test("reference golden hll_query_results: decode matches hll_test.go expectations") {
    val blocks = RefHllWire.readResults(golden("hll_query_results"))
    assert(blocks.length == 2)
    assert(blocks(1) == Left("test"))
    val b = blocks(0).toOption.get
    assert(b.numDimsPerDimWidth == Seq(0, 0, 1, 1, 1))
    assert(b.enumDicts == Map(1 -> Seq("a", "b", "c", "d")))
    assert(b.rows.length == 3)
    // row 0: all-NULL dims, sparse registers (1,255) (2,254) (3,253)
    assert(b.rows(0).dims == Seq(None, None, None))
    assert(b.rows(0).sparse.get == Seq((1, 255), (2, 254), (3, 253)))
    // row 1: dims ("1", "c", "2"), dense with registers 0 and 1 set to 1
    assert((0 until 3).map(d => b.dimString(1, d)) ==
      Seq(Some("1"), Some("c"), Some("2")))
    assert(b.rows(1).storedCount == RefHllWire.DenseDataLength)
    assert(b.rows(1).registers.count(_ != 0) == 2)
    // row 2: dims ("4294967295" — Uint32 stays unsigned, "d", "514"),
    // sparse in the file's descending-index order
    assert((0 until 3).map(d => b.dimString(2, d)) ==
      Seq(Some("4294967295"), Some("d"), Some("514")))
    assert(b.rows(2).sparse.get == Seq((255, 1), (254, 2), (253, 3), (252, 4)))
    // estimates: linear counting at tiny cardinalities ~= register count
    assert(b.estimates.forall(_ > 0))
  }

  test("reference golden: decode → encode is byte-identical (width-packed writer)") {
    val hllBody = golden("hll") // the bare serialized block hll_test.go wrote
    val decoded = RefHllWire.readBlock(hllBody)
    val reencoded = RefHllWire.writeBlock(decoded)
    assert(java.util.Arrays.equals(reencoded, hllBody),
      s"re-encode diverges: ${reencoded.length} vs ${hllBody.length} bytes, first diff at " +
        reencoded.zip(hllBody).indexWhere(p => p._1 != p._2))
    // and the full envelope, including the reference's error-padding quirk
    val full = golden("hll_query_results")
    val reenvelope = RefHllWire.writeResults(Seq(Right(reencoded), Left("test")))
    assert(java.util.Arrays.equals(reenvelope, full))
  }

  test("reference golden hll_empty_results round-trips") {
    val data = golden("hll_empty_results")
    val blocks = RefHllWire.readResults(data)
    assert(blocks.length == 1)
    val reencoded = RefHllWire.writeResults(Seq(Right(Array.empty[Byte])))
    assert(java.util.Arrays.equals(reencoded, data))
  }

  test("encodeResult: enum and integral dims decode back with width-descending slots") {
    val regs = new Array[Byte](graft.functions.Hll.M)
    regs(3) = 2; regs(9000) = 5
    val body = RefHllWire.encodeResult(2, Map(1 -> Seq("click", "view")),
      _ => 0x00060020L,
      Seq((Seq(Some(7L), Some("view")), regs), (Seq(None, Some("click")), regs)))
    val b = RefHllWire.readResults(body).head.toOption.get
    // Uint32 (4 bytes) slots before the SmallEnum (1 byte)
    assert(b.numDimsPerDimWidth == Seq(0, 0, 1, 0, 1))
    assert(b.dimIndexes == Seq(0, 1))
    assert(b.dataTypes == Seq(0x00060020L, 0x00080008L))
    assert((0 until 2).map(r => (0 until 2).map(b.dimString(r, _))) ==
      Seq(Seq(Some("7"), Some("view")), Seq(None, Some("click"))))
    assert(b.rows.map(_.storedCount) == Seq(2, 2))
    assert(b.rows.forall(_.registers.toSeq == regs.toSeq))
  }

  test("native sketches translate into the reference wire format losslessly") {
    // bridge: engine-native HLL registers → RefHllWire rows → decode agrees
    val regs = new Array[Byte](graft.functions.Hll.M)
    regs(7) = 3; regs(100) = 1; regs(16000) = 9
    val row = RefHllWire.RefRow(Seq(Some(42L)), regs, storedCount = 3)
    val block = RefHllWire.RefBlock(Seq(0, 0, 1, 0, 0), Seq(0),
      Seq(0x00060020L), Map.empty, Seq(row))
    val decoded = RefHllWire.readBlock(RefHllWire.writeBlock(block))
    assert(decoded.rows.head.dims == Seq(Some(42L)))
    assert(decoded.rows.head.registers.toSeq == regs.toSeq)
    assert(decoded.estimates == Seq(graft.functions.Hll.estimate(regs)))
  }
}
