package graft.functions

import graft.SparkSpec
import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The fused [[GramHash.shingleHash60Col]] must equal the
  * transform(shingles)+md5-hex+conv chain EXACTLY — the gram oracles
  * replay `('0x' || substring(md5(g), 1, 15))::BIGINT` on their side, so
  * value equality with the chain is the correctness contract that keeps
  * every gram gate oracle-green after the swap.
  */
class GramHashSpec extends SparkSpec {

  private def chain(toks: org.apache.spark.sql.Column, n: Int) =
    transform(TextOps.shingles(toks, n), g => Sketches.hash60Col(g))

  private def bothForms(texts: Seq[String], ns: Seq[Int]): Unit = {
    import spark.implicits._
    val df = texts.toDF("text")
      .select(TextOps.tokens(lower(col("text"))).as("toks"))
    ns.foreach { n =>
      val sel = df.select(
        GramHash.shingleHash60Col(col("toks"), n).as("fast"),
        chain(col("toks"), n).as("slow"))
      sel.collect().zip(texts).foreach { case (r, in) =>
        val show = in.take(60).replace("\n", "\\n")
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"n=$n mismatch for '$show': ${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
      }
    }
  }

  test("edge cases: short docs, unicode, punctuation, exact boundaries") {
    bothForms(Seq(
      "", " ", "one", "one two", "one two three", "one two three four",
      "a b c d e f g h i j", "repeated repeated repeated repeated",
      "ünïcödé ÉTÉ tokens here", "中文 分词 测试 再来 一个",
      "emoji 😀 pair 🎉 tokens", "tabs\tand\nnewlines split first",
      ("w " * 200).trim), Seq(1, 2, 3, 5))
  }

  test("property: fused kernel equals the md5 chain") {
    val word = Gen.frequency(
      8 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString),
      1 -> Gen.oneOf("é", "中", "😀", "a.b", "x,y"))
    val doc = Gen.chooseNum(0, 12).flatMap(k =>
      Gen.listOfN(k, word).map(_.mkString(" ")))
    val batch = Gen.listOfN(80, doc)
    (0 until 10).foreach { i =>
      bothForms(batch.pureApply(Gen.Parameters.default, Seed(0x66AA + i)),
        Seq(2, 3))
    }
  }

  test("null array and null elements follow shingles/array_join") {
    import spark.implicits._
    // null token array -> empty hash array (the when/otherwise shape)
    val nullArr = Seq(Option.empty[String]).toDF("text")
      .select(TextOps.tokens(lower(col("text"))).as("toks"))
      .select(GramHash.shingleHash60Col(col("toks"), 3).as("fast"),
        chain(col("toks"), 3).as("slow"))
      .head()
    assert(nullArr.getSeq[Long](0) == nullArr.getSeq[Long](1))
    assert(nullArr.getSeq[Long](0).isEmpty)
    // null ELEMENTS: array_join skips them with no separator
    val withNulls = Seq((Seq(Some("a"), None, Some("b"), Some("c")), 1))
      .toDF("toks", "k")
      .select(GramHash.shingleHash60Col(col("toks"), 3).as("fast"),
        chain(col("toks"), 3).as("slow"))
      .head()
    assert(withNulls.getSeq[Long](0) == withNulls.getSeq[Long](1))
  }

  test("hash values match Sketches.hash60 of the joined gram") {
    import spark.implicits._
    val r = Seq("alpha beta gamma delta").toDF("text")
      .select(GramHash.shingleHash60Col(
        TextOps.tokens(col("text")), 2).as("h"))
      .head().getSeq[Long](0)
    assert(r == Seq(Sketches.hash60("alpha beta"),
      Sketches.hash60("beta gamma"), Sketches.hash60("gamma delta")))
  }
}
