package graft.exec

import graft.aql.{Expr, ExprParser}
import org.json4s._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic properties of the broker's partial-result fold.
  *
  * [[Broker.merged]] flattens each slice's result tree to one leaf per
  * dimension path and reduces the partials with
  * `.reduce(Broker.foldLeaves(op))`; `Seq.reduce` folds left in arrival
  * order, so for the merged answer to be independent of HOW the data is
  * sliced and WHICH order the gathers land, the fold must be associative
  * and commutative — including the edges the two-slice integration tests
  * rarely hit: a group key missing from one slice but not another, null
  * leaves (all-null groups), and deep dimension nesting. Leaves are
  * integer-valued doubles so floating-point non-associativity can't mask a
  * structural bug (the wire itself is float64; ulp-level sum reordering is
  * the documented and accepted behavior for fractional measures).
  */
class BrokerMergeAlgebraSpec extends AnyFunSuite {

  private def forAllN[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(0x5EED00L + i)))
    }

  private val keys = Seq("a", "b", "c", "NULL")

  /** A partial-result tree of the given depth: at depth 0 a leaf (an
    * integer-valued measure, an explicit null, or ABSENT — the key simply
    * not reported by that slice); above, an object over a random subset of
    * the key pool. JNothing marks absence and is filtered out of JObjects
    * (json4s renders it as a dropped field, which is exactly how a missing
    * group looks on the wire).
    */
  private def genTree(depth: Int): Gen[JValue] =
    if (depth <= 0)
      Gen.frequency(
        6 -> Gen.choose(-1000L, 1000L).map(v => JDouble(v.toDouble)),
        1 -> Gen.const(JNull))
    else
      Gen.sequence[List[(String, Option[JValue])], (String, Option[JValue])](
        keys.map(k => Gen.zip(
          Gen.const(k),
          Gen.frequency(
            3 -> genTree(depth - 1).map(Some(_)),
            1 -> Gen.const(Option.empty[JValue])))))
        .map(fields => JObject(fields.collect { case (k, Some(v)) => k -> v }: _*))

  /** A slice's partial as the fold sees it, in an order-insensitive form. */
  private def leaves(v: JValue): Map[List[String], Option[Double]] =
    Broker.flatten(v).toMap

  private val FoldOps = Seq("sum", "count", "min", "max")

  private def fold(op: String)(x: JValue, y: JValue) =
    Broker.foldLeaves(op)(Broker.flatten(x), Broker.flatten(y))

  test("merge is commutative (slice gather order cannot change the answer)") {
    val gen = Gen.zip(genTree(2), genTree(2), Gen.oneOf(FoldOps))
    forAllN(gen, n = 400) { case (x, y, op) =>
      assert(fold(op)(x, y).toMap == fold(op)(y, x).toMap,
        s"$op not commutative for\n  $x\n  $y")
    }
  }

  test("merge is associative (slice count and reduce shape cannot change the answer)") {
    val gen = Gen.zip(genTree(2), genTree(2), genTree(2), Gen.oneOf(FoldOps))
    forAllN(gen, n = 400) { case (x, y, z, op) =>
      val m = Broker.foldLeaves(op) _
      val Seq(a, b, c) = Seq(x, y, z).map(Broker.flatten)
      assert(m(m(a, b), c).toMap == m(a, m(b, c)).toMap,
        s"$op not associative for\n  $x\n  $y\n  $z")
    }
  }

  test("missing keys and null leaves are identities, never zeros") {
    // a group absent on one slice keeps the other slice's value
    val only = JObject("a" -> JDouble(7))
    assert(fold("sum")(only, JObject()).toMap == leaves(only))
    assert(fold("sum")(JObject(), only).toMap == leaves(only))
    // an all-null group (key present, null leaf) is the fold identity,
    // not 0 — summing it as 0 would be right for sum but WRONG for min
    val withNull = JObject("a" -> JNull)
    assert(fold("min")(withNull, only).toMap == leaves(only))
    assert(fold("min")(only, withNull).toMap == leaves(only))
    // both sides null stays null (the group existed, its measure is null)
    assert(fold("min")(withNull, JObject("a" -> JNull)).toMap ==
      Map(List("a") -> None))
  }

  test("avg divides sum by count per path, zero count to null") {
    val avg = ExprParser.parse("avg(x)")
    val Expr.Call(_, Seq(x)) = avg
    val eval = Broker.evaluator(Broker.splitAvg(avg), Map(
      Expr.Call("sum", Seq(x)) ->
        Map(List("a") -> Some(10.0), List("b") -> Some(3.0), List("c") -> None),
      Expr.Call("count", Seq(x)) ->
        Map(List("a") -> Some(4.0), List("b") -> Some(0.0), List("c") -> Some(0.0))))
    assert(eval(List("a")) == Some(2.5))
    // a zero count folds to null, not Infinity; an all-null group and a
    // path no component reported stay null
    Seq("b", "c", "d").foreach(k => assert(eval(List(k)).isEmpty, k))
  }

  test("the merged tree nests the folded paths back into the instance shape") {
    // a tree with no empty objects round-trips through flatten and the
    // one-pass builder
    def pruned(v: JValue): JValue = v match {
      case JObject(fs) => JObject(fs.map { case (k, c) => k -> pruned(c) }
        .filter { case (_, c) => c != JObject() })
      case leaf => leaf
    }
    forAllN(genTree(3).map(pruned), n = 200) { x =>
      assert(ResultShaper.tree(Broker.flatten(x).toSeq.map { case (p, v) =>
        p -> v.fold[JValue](JNull)(JDouble(_)) }) == x, s"$x")
    }
  }
}
