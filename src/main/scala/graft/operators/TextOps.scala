package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared text primitives for the pipeline operators. Everything here is a
  * codegen'd Column expression (no UDFs) so it stays inside whole-stage
  * codegen at 100 TB scan scale.
  */
object TextOps {

  /** Whitespace tokenization of trimmed text — single-pass codegen'd
    * byte walk, semantically identical to [[tokensRegex]] (`TokenizeSpec`
    * pins equality; the DuckDB oracles replay the regex spelling).
    */
  def tokens(c: Column): Column = graft.functions.Tokenize.wsCol(c)

  /** The regex formulation [[tokens]]'s kernel replaced (kept as the
    * equality baseline for `TokenizeSpec`).
    */
  def tokensRegex(c: Column): Column = split(trim(c), "\\s+")

  /** BPE-ish subword segmentation pattern: letter runs, digit runs, and
    * individual punctuation marks each count as one token — the shape of a
    * byte-pair tokenizer's pre-tokenization split. RE2/Java-compatible so
    * cross-engine counts match exactly.
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** BPE-ish token array (for counting; training-cost estimation) —
    * single-pass codegen'd byte walk over the same alternation
    * (`TokenizeSpec` pins equality with [[bpeishTokensRegex]]).
    */
  def bpeishTokens(c: Column): Column = graft.functions.Tokenize.bpeishCol(c)

  /** The regex formulation [[bpeishTokens]] replaced (equality baseline). */
  def bpeishTokensRegex(c: Column): Column =
    regexp_extract_all(c, lit(BpeishPattern), lit(0))

  /** Word n-gram shingles as space-joined strings; empty array when the
    * document is shorter than n tokens.
    *
    * PASS A BOUND COLUMN (project the tokenizer into a named column
    * first): `toks` is referenced inside the transform lambda, so an
    * embedded expression like `tokens(lower(col))` re-evaluates the regex
    * split once PER WINDOW — O(tokens²·regex) per document, measured as
    * a 3-4× slowdown on the gram-heavy gates. An attribute reference
    * evaluates once per row.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Canonical text normalization for dedup keys: lowercase, strip
    * everything outside `[a-z0-9]` and whitespace, collapse whitespace
    * runs to one space, trim. Exact dedup on the normalized form catches
    * the near-identical documents that differ only in case, punctuation or
    * spacing — the cheap first rung below minhash. The whitespace class is
    * spelled out as `[ \t\n\f\r]` rather than `\s` because the dialects
    * genuinely disagree on `\s`: Java includes vertical tab (\x0B), RE2
    * does not, so a crawled document containing \x0B would normalize
    * differently in the engine and the oracle. The explicit class equals
    * RE2's `\s` exactly, letting the DuckDB oracle keep `\s`. Pure
    * codegen'd expression: no shuffle, no UDF.
    */
  def normalizeText(c: Column): Column =
    graft.functions.TextNorm.normalizeCol(c)

  /** The two-regex formulation [[normalizeText]]'s single-pass kernel
    * replaced (kept as the equality baseline for `TextNormSpec`; the
    * DuckDB oracles keep the regex spelling on their side).
    */
  def normalizeTextRegex(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9 \\t\\n\\f\\r]", ""),
      "[ \\t\\n\\f\\r]+", " "))

  /** Count of tokens that belong to a fixed vocabulary. */
  def vocabHits(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(vocab)))

  /** Deterministic document fingerprint usable cross-engine (md5 hex). */
  def fingerprintMd5(text: Column): Column = md5(text)

  /** 64-bit rolling content fingerprint over tokens: rotate-xor chain
    * (order-sensitive, overflow-free under ANSI mode). Expressed with
    * aggregate() so it is still not a UDF. Engine-specific (xxhash64),
    * so only checked by our own specs, not the SQL oracle.
    */
  def fingerprintRolling(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59))
        .bitwiseXOR(xxhash64(t)))

  /** Stopword-vote language id. The gate corpus is synthetic with a shared
    * vocabulary, so this is exercised for determinism rather than accuracy;
    * on real text the vocabularies separate languages.
    */
  val langVocabs: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "y", "es", "un"),
    "fr" -> Seq("le", "la", "et", "les", "est", "un"))

  def langScores(toks: Column): Seq[(String, Column)] =
    langVocabs.map { case (lang, vocab) => lang -> vocabHits(toks, vocab) }

  /** Predicted language: strict-majority stopword vote, 'und' (undetermined)
    * on ties or zero hits.
    */
  def predictLang(toks: Column): Column = {
    val scores = langScores(toks)
    scores.foldLeft(lit("und")) { case (acc, (lang, score)) =>
      val others = scores.filter(_._1 != lang).map(_._2)
      when(score > lit(0) && others.foldLeft(lit(true))((a, o) => a && score > o),
        lit(lang)).otherwise(acc)
    }
  }

  /** Simple quality heuristics: token count, mean token length bounds.
    * Returns 1/0 as an integer flag (cross-engine stable).
    */
  def qualityFlag(toks: Column, nChars: Column): Column = {
    val nTok = size(toks)
    when(nTok >= 20 && nChars >= 100 &&
      nChars <= nTok * 10, 1).otherwise(0)
  }

  /** Flesch reading-ease ingredients and score, all from deterministic
    * regex counts (the classic readability heuristic: vowel GROUPS
    * approximate syllables, `[.!?]+` runs approximate sentence ends,
    * floored at 1 so headline-style fragments count as one sentence):
    *
    *   flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)
    *
    * Map-side struct (words, sentences, syllables, flesch rounded);
    * flesch NULL when there are no words. ~90-100 reads as simple
    * prose, negative as dense/garbled — a curation signal alongside
    * [[qualityFlag]], and cross-engine exact because every input is an
    * integer regex count.
    */
  def fleschScore(text: Column, roundTo: Int = 2): Column = {
    val words = size(regexp_extract_all(text, lit("\\S+"), lit(0)))
    val sentences = greatest(
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1))
    val syllables = size(regexp_extract_all(lower(text), lit("[aeiouy]+"), lit(0)))
    val flesch = when(words > 0,
      round(lit(206.835) -
        lit(1.015) * words.cast("double") / sentences -
        lit(84.6) * syllables.cast("double") / words, roundTo))
    struct(words.cast("long").as("words"),
      sentences.cast("long").as("sentences"),
      syllables.cast("long").as("syllables"),
      flesch.as("flesch"))
  }
}
