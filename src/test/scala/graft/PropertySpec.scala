package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Hll

/** Property tests for the algebraic contracts the distributed execution
  * relies on (SURVEY §5 test plan — properties the reference's own suite
  * lacks): HLL merge is a commutative, associative, idempotent register-max
  * semilattice (what makes partial/final aggregation and broker-style
  * re-merging order-independent), the sparse/dense wire encoding is a
  * bijection, and time-expression alignment brackets its base instant.
  *
  * Deterministic: generators are driven by fixed seeds (no scalatestplus
  * bridge in the dependency set).
  */
class PropertySpec extends AnyFunSuite {

  private def forAllN[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(0xC0FFEEL + i)))
    }

  private val genRegs: Gen[Array[Byte]] = for {
    n <- Gen.chooseNum(0, 600)
    pairs <- Gen.listOfN(n, for {
      idx <- Gen.chooseNum(0, Hll.M - 1)
      rho <- Gen.chooseNum(1, 51)
    } yield (idx, rho.toByte))
  } yield {
    val regs = new Array[Byte](Hll.M)
    pairs.foreach { case (i, r) => if ((regs(i) & 0xFF) < (r & 0xFF)) regs(i) = r }
    regs
  }

  private def merged(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = a.clone()
    Hll.mergeInto(out, b)
    out
  }

  test("HLL merge is commutative, associative, idempotent") {
    forAllN(Gen.zip(genRegs, genRegs, genRegs), 100) { case (a, b, c) =>
      assert(merged(a, b).toSeq == merged(b, a).toSeq)
      assert(merged(merged(a, b), c).toSeq == merged(a, merged(b, c)).toSeq)
      assert(merged(a, a).toSeq == a.toSeq)
    }
  }

  test("HLL merge estimate dominates either side (monotone union)") {
    forAllN(Gen.zip(genRegs, genRegs), 100) { case (a, b) =>
      val u = Hll.estimate(merged(a, b))
      assert(u >= Hll.estimate(a) && u >= Hll.estimate(b))
    }
  }

  test("sparse/dense encode-decode is a bijection on register arrays") {
    // genRegs spans both sides of the 4096-register dense threshold
    val genDense = for {
      n <- Gen.chooseNum(4000, 8000)
      pairs <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, Hll.M - 1), Gen.chooseNum(1, 51)))
    } yield {
      val regs = new Array[Byte](Hll.M)
      pairs.foreach { case (i, r) => regs(i) = r.toByte }
      regs
    }
    forAllN(genRegs, 100)(regs => assert(Hll.decode(Hll.encode(regs)).toSeq == regs.toSeq))
    forAllN(genDense, 20)(regs => assert(Hll.decode(Hll.encode(regs)).toSeq == regs.toSeq))
  }

  test("time expression alignment brackets the base instant and hour-like units tile") {
    import java.time.{Instant, ZoneId}
    val gen = Gen.zip(
      Gen.chooseNum(0L, 4102444800L), // 1970..2100
      Gen.oneOf("UTC", "America/New_York", "Asia/Tokyo", "Europe/Berlin", "America/Sao_Paulo"),
      Gen.oneOf("y", "q", "M", "w", "d", "h", "15m", "m"))
    forAllN(gen, 400) { case (epoch, z, u) =>
      val base = Instant.ofEpochSecond(epoch).atZone(ZoneId.of(z))
      val a = graft.aql.TimeExpr.applyOffset(base, 0, u)
      assert(!a.start.isAfter(base) && a.end.isAfter(base),
        s"[${a.start}, ${a.end}) does not bracket $base ($u)")
      // fixed-width units tile: the next bucket starts where this one ends
      if (u == "h" || u == "15m" || u == "m") {
        val next = graft.aql.TimeExpr.applyOffset(base, 1, u)
        assert(next.start == a.end, s"$u buckets do not tile at $base")
      }
    }
  }

  test("hopping windows: every instant is covered by exactly ceil(size/stride) windows") {
    val gen = for {
      stride <- Gen.choose(1L, 60L)
      mult <- Gen.choose(1L, 10L)
      t <- Gen.choose(-100000L, 100000L)
    } yield (stride, stride * mult, t)
    var seed = Seed(7L)
    (1 to 500).foreach { _ =>
      val ((stride, size, t), next) = gen.apply(Gen.Parameters.default, seed)
        .map(v => (v, seed.next)).getOrElse(fail("gen"))
      seed = next
      // window starts are multiples of stride; t ∈ [s, s+size)
      val covering = (0L until (size / stride)).map { j =>
        (Math.floorDiv(t, stride) - j) * stride
      }.filter(s => s <= t && t < s + size)
      assert(covering.size == (size / stride),
        s"t=$t stride=$stride size=$size covered by ${covering.size}")
    }
  }

  test("rebalance ownership: total, disjoint, contiguous, near-equal, bounded movement") {
    import graft.exec.SliceRebalance.ownership
    val gen = for {
      nDays <- Gen.chooseNum(0, 60)
      nSlices <- Gen.chooseNum(1, 8)
      ids <- Gen.listOfN(nSlices, Gen.alphaLowerStr.map(_.take(6)).suchThat(_.nonEmpty))
    } yield (nDays, ids)
    forAllN(gen, 300) { case (nDays, ids0) =>
      val ids = ids0.distinct
      val days = (1 to nDays).map(i => f"2024-${1 + i / 28}%02d-${1 + i % 28}%02d")
      val own = ownership(days, ids)
      val all = own.values.flatten.toSeq.sorted
      // total + disjoint: every day owned exactly once
      assert(all == days.sorted.distinct, s"ownership not a partition: $own")
      // contiguous per slice, ranges follow sorted slice-id order
      val sortedIds = ids.sorted
      val concat = sortedIds.flatMap(own(_))
      assert(concat == days.sorted.distinct, s"ranges out of order: $own")
      // near-equal: sizes differ by at most 1
      val sizes = own.values.map(_.size)
      assert(sizes.max - sizes.min <= 1, s"unbalanced: $own")
      // bounded movement on grow: adding one slice (sorting last) shifts
      // every boundary left, so ~half the days keep their owner — moved
      // days ≤ ceil(D/2) + (n+1) rounding slack (equal-split overlap sums
      // to D/2 exactly; see SliceRebalance scaladoc), and each slice's
      // new range is still one contiguous run
      if (ids.nonEmpty && nDays > 0) {
        val grown = ownership(days, ids :+ (ids.max + "zz"))
        val kept = ids.map(id => own(id).count(grown(id).contains)).sum
        val moved = days.distinct.size - kept
        assert(moved <= days.distinct.size / 2 + ids.size + 1,
          s"grow moved $moved of ${days.distinct.size} days: $own -> $grown")
      }
    }
  }
}
