package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: 3-grams of a 5-token doc, short docs empty") {
    val df = Seq("a b c d e", "a b").toDF("text")
      .select(TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d", "c d e"))
    assert(rows(1).isEmpty)
  }

  test("language prediction: strict majority vote, und on tie") {
    val df = Seq(
      "the cat and the dog",   // en
      "der hund und die katze", // de
      "qq ww rr",               // no hits in any vocab → und
      "the der"                 // tie → und
    ).toDF("text")
      .select(TextOps.predictLang(TextOps.tokens(col("text"))).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "de", "und", "und"))
  }

  test("normalizeText: case, punctuation and whitespace runs collapse; alnum kept") {
    val df = Seq(
      "Hello, World!",
      "hello world",
      "  HELLO   world  ",
      "h3llo w0rld",
      "a-b c_d").toDF("text")
      .select(TextOps.normalizeText(col("text")).as("n"))
    val out = df.collect().map(_.getString(0))
    assert(out(0) == "hello world")
    assert(out(1) == "hello world")
    assert(out(2) == "hello world")
    assert(out(3) == "h3llo w0rld")
    // punctuation is STRIPPED, not replaced by space (joined fragments)
    assert(out(4) == "ab cd")
  }

  test("normalizeText strips vertical tab (the one char Java \\s and RE2 \\s disagree on)") {
    // \x0B is whitespace to Java but NOT to RE2; the explicit class treats
    // it as a strippable char in BOTH engines → "ab", not "a b"
    val out = Seq("a\u000Bb").toDF("text")
      .select(TextOps.normalizeText(col("text")).as("n"))
      .head.getString(0)
    assert(out == "ab", s"got '$out'")
  }

  test("rolling fingerprint is order-sensitive and stable") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
      .select(TextOps.fingerprintRolling(TextOps.tokens(col("text"))).as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) == fps(2))
    assert(fps(0) != fps(1))
  }
}
