package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: repetition
  * metrics (the Gopher-style quality filters), fixed-size token chunking
  * (sequence-packing prep), PII redaction, and eval-set decontamination.
  *
  * Scale design: repetition / chunking / redaction are pure per-document
  * column expressions (no UDFs — everything stays in whole-stage codegen,
  * no shuffle). Decontamination shuffles only distinct n-grams and doc
  * ids, with the (small) benchmark side broadcast.
  */
object Curation {

  /** One-pass (total, distinct) n-gram counter over a token array. The
    * expression form (transform/sequence/array_join/slice, inlined once per
    * consumer) generated so much code that janino compilation + optimizer
    * passes cost ~6 s per fresh plan regardless of data size; a tight-loop
    * UDF keeps the plan tree tiny. Gram strings are space-joined exactly
    * like [[TextOps.shingles]], so distinct counts match the SQL oracle.
    */
  case class NgramStats(total: Int, dist: Int)

  private val ngramStatsUdf = udf { (toks: Seq[String], n: Int) =>
    if (toks == null || toks.length < n) NgramStats(0, 0)
    else {
      val total = toks.length - n + 1
      val seen = new java.util.HashSet[String](total * 2)
      val sb = new java.lang.StringBuilder
      var t = 0
      while (t < total) {
        seen.add(gramAt(toks, t, n, sb))
        t += 1
      }
      NgramStats(total, seen.size)
    }
  }

  /** (total, distinct) n-gram counts per document — the inputs to the
    * duplicate-n-gram-fraction repetition filter (Gopher's
    * `duplicate_ngram_fraction`): a document whose text loops repeats
    * n-grams, so distinct/total drops. Both counts are integers; express
    * thresholds by cross-multiplication ((total - distinct) * 10 > total
    * ⇔ dup fraction > 0.1) to keep the gate oracle float-free.
    *
    * Returns a struct column (total, dist); select it once and read the
    * fields from the materialized struct so the counter runs one pass.
    */
  def ngramStats(toks: Column, n: Int): Column = ngramStatsUdf(toks, lit(n))

  /** One-pass per-document token statistics for the rule filter:
    * (n_words, n_wchars, n_types, n_stop, max_freq). Same shape choice as
    * [[ngramStatsUdf]]: a tight-loop UDF keeps the plan tree tiny where
    * five HOF folds over the token array would each run interpreted.
    */
  case class QualityStats(nWords: Long, nWchars: Long, nTypes: Long,
      nStop: Long, maxFreq: Long)

  /** English stopword set — derived from [[TextOps.langVocabs]]'s `en`
    * entry (single source of truth shared with language id; the gate
    * oracle inlines the same seven words).
    */
  val StopwordsEn: Set[String] =
    TextOps.langVocabs.collectFirst { case ("en", words) => words.toSet }.get

  private val qualityStatsUdf = udf { (toks: Seq[String]) =>
    if (toks == null) QualityStats(0L, 0L, 0L, 0L, 0L)
    else {
      val counts = new java.util.HashMap[String, Int](toks.length * 2)
      var nw = 0L; var wc = 0L; var ns = 0L; var mf = 0L
      toks.foreach { t =>
        nw += 1; wc += t.length
        if (StopwordsEn(t)) ns += 1
        val c = counts.merge(t, 1, (a, b) => a + b)
        if (c > mf) mf = c.toLong
      }
      QualityStats(nw, wc, counts.size.toLong, ns, mf)
    }
  }

  /** Gopher-style document-quality rule filter (Rae et al. 2021 §A.1.1
    * shape; thresholds adapted to the gate corpus — mean word length ∈
    * [4,10] ⇔ 4·n ≤ chars ≤ 10·n, where Gopher's lower bound is 3, because
    * the synthetic corpus floor is 3.7): per-document flags for word
    * count, mean word length, stopword evidence, type-token ratio and max
    * single-token frequency, plus the conjunction as `keep`. All
    * arithmetic is integer cross-multiplication, so the oracle compare is
    * float-free. Pure map-side: one UDF pass per document, no shuffle at
    * any scale. Null-text documents are dropped (the SQL oracle's unnest
    * drops them from its GROUP BY; filtering keeps both sides agreeing).
    */
  def qualityRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val flag = (c: Column) => when(c, 1).otherwise(0)
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        qualityStatsUdf(TextOps.tokens(col(textCol))).as("__s"))
      .select(col(idCol),
        flag(col("__s.nWords") >= 30).as("r_nwords"),
        flag(col("__s.nWchars") >= col("__s.nWords") * 4 &&
          col("__s.nWchars") <= col("__s.nWords") * 10).as("r_wordlen"),
        flag(col("__s.nStop") >= 2).as("r_stop"),
        flag(col("__s.nTypes") * 2 >= col("__s.nWords")).as("r_ttr"),
        flag(col("__s.maxFreq") * 10 <= col("__s.nWords")).as("r_maxfreq"))
      .withColumn("keep",
        col("r_nwords") * col("r_wordlen") * col("r_stop") *
          col("r_ttr") * col("r_maxfreq"))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2's rule set —
    * the other canonical web-corpus filter next to the Gopher rules):
    * a LINE survives when it ends in terminal punctuation (`. ! ? "`),
    * carries at least `minWordsPerLine` words, and does not mention
    * "javascript"; the DOCUMENT survives when it contains no `{` (code),
    * no "lorem ipsum" (placeholder boilerplate), and keeps at least
    * `minLines` lines. Unlike a document-level filter, the line rules
    * REWRITE the text — the kept lines are the cleaned document.
    *
    * Output: (idCol, n_lines, n_kept, reason, clean_text) where reason ∈
    * brace | lorem_ipsum | too_few_lines | kept, and clean_text is the
    * newline-joined kept lines (null unless kept — the drop reasons keep
    * the frame narrow).
    *
    * Scale shape: pure map-side — one split + one higher-order filter
    * per document, no shuffle at any scale; line counts are small enough
    * that the interpreted HOF lambda is noise next to the split.
    */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
      minWordsPerLine: Int = 5, minLines: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        size(split(trim(l), "[ \\t]+")) >= minWordsPerLine &&
        !lower(l).contains("javascript"))
    df.where(col(textCol).isNotNull)
      .select(col(idCol), lines.as("__ls"), kept.as("__ks"),
        col(textCol).as("__t"))
      .select(col(idCol),
        size(col("__ls")).as("n_lines"),
        size(col("__ks")).as("n_kept"),
        when(col("__t").contains("{"), "brace")
          .when(lower(col("__t")).contains("lorem ipsum"), "lorem_ipsum")
          .when(size(col("__ks")) < minLines, "too_few_lines")
          .otherwise("kept").as("reason"),
        col("__ks"))
      .withColumn("clean_text",
        when(col("reason") === "kept", array_join(col("__ks"), "\n")))
      .drop("__ks")
  }

  /** Split each document into consecutive `chunkSize`-token chunks — the
    * pre-tokenization step of sequence packing. Output: one row per chunk
    * with (idCol, chunk_idx, n_tokens, chunk_text); the final chunk is the
    * short remainder. Shuffle-free: the fan-out is a per-row explode.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int): DataFrame = {
    require(chunkSize > 0, s"chunkSize $chunkSize must be positive")
    val k = lit(chunkSize)
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__n_chunks", ceil(size(col("__toks")) / k.cast("double")).cast("int"))
      .select(col(idCol),
        explode(sequence(lit(0), greatest(col("__n_chunks"), lit(1)) - 1)).as("chunk_idx"),
        col("__toks"))
      .withColumn("__chunk", slice(col("__toks"), col("chunk_idx") * k + 1, k))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Sliding-window (strided) token chunking — the RAG indexing shape:
    * chunk i covers tokens `[i*stride, i*stride + chunkSize)`, so
    * consecutive chunks overlap by `chunkSize - stride` tokens and no
    * retrieval boundary can split a fact that [[chunkTokens]]'s disjoint
    * windows would cut. Chunk count is the minimal cover
    * `1 + ceil((n - chunkSize) / stride)` (integer arithmetic, exact in
    * any engine); the final window is clipped at the document end.
    * Map-side only — one explode, no shuffle.
    */
  def chunkTokensOverlap(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0, s"chunkSize $chunkSize must be positive")
    require(stride > 0 && stride <= chunkSize,
      s"stride $stride must be in [1, chunkSize]")
    val k = lit(chunkSize)
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__n_chunks",
        when(col("__n") <= k, lit(1))
          .otherwise(lit(1) +
            ((col("__n") - k + stride - 1) / stride).cast("int")))
      .select(col(idCol),
        explode(sequence(lit(0), col("__n_chunks") - 1)).as("chunk_idx"),
        col("__toks"))
      .withColumn("__chunk", slice(col("__toks"), col("chunk_idx") * stride + 1, k))
      .select(col(idCol), col("chunk_idx"),
        size(col("__chunk")).as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Cross-engine-safe PII patterns (identical semantics in Java regex and
    * RE2): email addresses and +1-prefixed dashed phone numbers. Both
    * avoid constructs the dialects disagree on (lookaround, \d vs POSIX).
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9]+-[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Redact emails and phone numbers (all occurrences). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Number of PII matches in a document (emails + phones). */
  def piiCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(text, lit(PhonePattern), lit(0)))

  /** Ids of corpus documents sharing at least one word `n`-gram with any
    * benchmark document — eval-set decontamination (the 13-gram-overlap
    * check of GPT-3/PaLM appendix fame; `n` is a parameter since synthetic
    * corpora need shorter grams). Distinct grams per document on both
    * sides, benchmark grams broadcast (eval sets are small by nature), a
    * left-semi probe, then a distinct on ids — the corpus text itself
    * never shuffles. Output: one `idCol` row per contaminated document.
    */
  /** Distinct word n-grams of a token array in one pass (space-joined like
    * [[TextOps.shingles]], first-occurrence order). Same plan-size rationale
    * as [[ngramStats]]: the HOF expression form cost seconds of optimizer +
    * janino time per fresh plan.
    */
  private val distinctGramsUdf = udf { (toks: Seq[String], n: Int) =>
    if (toks == null || toks.length < n) Array.empty[String]
    else {
      val total = toks.length - n + 1
      val seen = new java.util.LinkedHashSet[String](total * 2)
      val sb = new java.lang.StringBuilder
      var t = 0
      while (t < total) {
        seen.add(gramAt(toks, t, n, sb))
        t += 1
      }
      seen.toArray(new Array[String](seen.size))
    }
  }

  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame): DataFrame = df.select(col(idCol),
      explode(distinctGramsUdf(TextOps.tokens(col(textCol)), lit(n)))
        .as("__gram"))
    val benchGrams = grams(benchmark).select("__gram").distinct()
    grams(corpus)
      .join(broadcast(benchGrams), Seq("__gram"), "left_semi")
      .select(idCol).distinct()
  }

  /** Graded companion to [[contaminatedIds]]: per-document overlap COUNTS
    * against the benchmark gram set — (n_grams, n_shared, flagged) where
    * `flagged = 1` iff `n_shared / n_grams >= 1/flagDenom` (cross-
    * multiplied, so the decision is integer-exact). The binary decontam
    * filter drops a document for a single colliding n-gram; real curation
    * wants the overlap FRACTION so borderline docs (one boilerplate
    * phrase) can be kept while verbatim eval leaks are dropped.
    *
    * Same scale shape as [[contaminatedIds]]: distinct grams per doc
    * map-side, benchmark grams broadcast, and the only shuffle is the
    * partial-aggregated groupBy on the doc id. Documents shorter than `n`
    * tokens have no grams and are absent from the output (consistent with
    * the oracle's join semantics).
    */
  /** The space-joined gram starting at token `t` — the ONE definition of
    * gram text shared by every counter/extractor in this file: grams only
    * match across operators (and against [[TextOps.shingles]]' SQL-oracle
    * form) while all producers build byte-identical strings.
    */
  private def gramAt(toks: Seq[String], t: Int, n: Int,
      sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    var k = t
    while (k < t + n) {
      if (k > t) sb.append(' ')
      sb.append(toks(k))
      k += 1
    }
    sb.toString
  }

  /** Every n-gram window of a token array in order (one string per start
    * position — NOT distinct, the index under posexplode IS the 0-based
    * token start). Same tight-loop shape as [[distinctGramsUdf]].
    */
  private val allGramsUdf = udf { (toks: Seq[String], n: Int) =>
    if (toks == null || toks.length < n) Array.empty[String]
    else {
      val total = toks.length - n + 1
      val out = new Array[String](total)
      val sb = new java.lang.StringBuilder
      var t = 0
      while (t < total) {
        out(t) = gramAt(toks, t, n, sb)
        t += 1
      }
      out
    }
  }

  /** Rebuild a document from the tokens not covered by a removed window —
    * [[Dedup.trimUdf]]'s job, but tokenized EXACTLY like
    * [[TextOps.tokens]] (SQL trim strips only spaces; Java String.trim
    * strips all whitespace, which would shift every index by one on a
    * doc with a leading tab and cut the WRONG tokens), and joined like
    * the oracle's string_agg (unconditional single-space separator, so an
    * empty first token — the SQL-tokenization artifact of leading
    * non-space whitespace — round-trips identically in both engines).
    */
  private def rebuildUdf(n: Int) = udf { (text: String, starts: Seq[Int]) =>
    if (text == null || starts == null || starts.isEmpty) text
    else {
      var b = 0; var e = text.length
      while (b < e && text.charAt(b) == ' ') b += 1
      while (e > b && text.charAt(e - 1) == ' ') e -= 1
      val toks = text.substring(b, e).split("\\s+", -1)
      val removed = new Array[Boolean](toks.length)
      starts.foreach { s =>
        var i = s
        while (i < s + n && i < toks.length) { removed(i) = true; i += 1 }
      }
      val kept = new scala.collection.mutable.ArrayBuffer[String](toks.length)
      var i = 0
      while (i < toks.length) {
        if (!removed(i)) kept += toks(i)
        i += 1
      }
      kept.mkString(" ")
    }
  }

  /** SURGICAL decontamination: remove only the token windows that overlap
    * a benchmark n-gram, instead of dropping the whole document
    * ([[contaminatedIds]]) — the right call when contamination is one
    * quoted benchmark sentence inside an otherwise-good document. Every
    * input row comes back; contaminated windows are cut and the text
    * rebuilt from the surviving tokens (whitespace normalized only where
    * rebuilt — the [[Dedup.trimDuplicateSpans]] contract).
    *
    * Scale shape: benchmark grams broadcast; the corpus's gram stream is
    * filtered by the broadcast semi-join map-side, so only HIT positions
    * (bounded by benchmark overlap, not corpus size) reach the per-doc
    * collect_list; the rebuild is a map-side UDF.
    */
  def trimContaminated(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val benchGrams = benchmark.select(
      explode(distinctGramsUdf(TextOps.tokens(col(textCol)), lit(n)))
        .as("__gram")).distinct()
    val hits = corpus.select(col(idCol),
        posexplode(allGramsUdf(TextOps.tokens(col(textCol)), lit(n)))
          .as(Seq("__start", "__gram")))
      .join(broadcast(benchGrams), Seq("__gram"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_list(col("__start").cast("int")).as("__starts"))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn(textCol, rebuildUdf(n)(col(textCol), col("__starts")))
      .drop("__starts")
  }

  /** Token-length histogram per source — the mix-planning /
    * packing-budget report (how long are my documents, per provenance):
    * one row per (source, bucket) with the doc count and the token mass
    * in the bucket, bucket = floor(n_tokens / bucketWidth). Integer
    * arithmetic end to end; one partial-aggregated shuffle on the tiny
    * (source, bucket) key space.
    */
  def tokenHistogram(df: DataFrame, srcCol: String, textCol: String,
      bucketWidth: Int): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth $bucketWidth must be positive")
    df.select(col(srcCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("__n"))
      .withColumn("bucket", expr(s"CAST(__n DIV $bucketWidth AS BIGINT)"))
      .groupBy(col(srcCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("__n").as("n_tokens"))
  }

  /** Line-level boilerplate removal (the CCNet-style web-curation pass):
    * a line that recurs across at least `minDocFrac` of the documents OF
    * THE SAME SOURCE is navigation / header / footer chrome rather than
    * content — every occurrence is stripped and the text rebuilt from the
    * surviving lines. Returns all input rows with `textCol` rewritten and
    * an `n_removed` line count.
    *
    * Scale shape: document frequency per (source, line) needs one shuffle
    * over per-document DISTINCT lines (`array_distinct` runs map-side, so
    * a line repeated inside one document costs one triple, and the
    * partial aggregate combines before the exchange). The surviving
    * boilerplate set is SMALL by construction — a line qualifies only by
    * recurring across a large share of a source's documents, so there can
    * be at most lines-per-doc / minDocFrac of them per source — and
    * collapses to one array row per source, which broadcast-joins back;
    * the rebuild is a map-side `filter` over the split array. The corpus
    * itself is never shuffled.
    *
    * The line separator is the literal `\n` and the threshold compare is
    * `docFreq >= nDocs * minDocFrac` — with halves/quarters as the
    * fraction this is exact in binary, keeping the DuckDB oracle
    * integer-equivalent.
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, minDocFrac: Double): DataFrame = {
    require(minDocFrac > 0 && minDocFrac <= 1,
      s"minDocFrac $minDocFrac must be in (0, 1]")
    val lines = split(col(textCol), "\n", -1)
    val docFreq = df
      .select(col(srcCol), explode(array_distinct(lines)).as("__line"))
      .groupBy(col(srcCol), col("__line"))
      .agg(count(lit(1)).as("__dw"))
    val srcDocs = df.groupBy(col(srcCol)).agg(count(lit(1)).as("__nd"))
    val boiler = docFreq.join(broadcast(srcDocs), Seq(srcCol))
      .where(col("__dw") >= col("__nd") * minDocFrac)
      .groupBy(col(srcCol))
      .agg(collect_list(col("__line")).as("__bp"))
    df.join(broadcast(boiler), Seq(srcCol), "left")
      .withColumn("__keep",
        filter(lines, l => !coalesce(array_contains(col("__bp"), l), lit(false))))
      .withColumn("n_removed", (size(lines) - size(col("__keep"))).cast("long"))
      .withColumn(textCol, array_join(col("__keep"), "\n"))
      .drop("__bp", "__keep")
  }

  /** Crawled-HTML to text: drop `<script>`/`<style>` blocks whole, strip
    * every remaining tag (and comments — `<!-- -->` matches the same
    * tag pattern piecewise via the non-greedy block rule below), decode
    * the six entities that dominate real pages, collapse whitespace.
    * Spelled as chained `regexp_replace`/`replace` so a SQL oracle
    * replays it byte for byte — deliberately NOT an HTML parser: crawl
    * pipelines at this stage want a cheap, deterministic, codegen'd
    * projection (the WET `conversion` records are already text; this is
    * for raw `response` text/html payloads), with real DOM extraction
    * living outside the engine.
    *
    * Regex dialect notes pinned for the oracle: `(?is)` case-insensitive
    * + dotall for the block rule; the tag rule `<[^>]*>` is dialect-free.
    */
  def htmlToText(c: Column): Column = {
    val noBlocks = regexp_replace(c,
      "(?is)<(script|style)\\b[^>]*>.*?</(script|style)>", " ")
    val noComments = regexp_replace(noBlocks, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "<[^>]*>", " ")
    // &amp; decodes LAST: an earlier pass would turn "&amp;lt;" into
    // "&lt;" and the lt rule would then double-decode it to "<"
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (from, to)) => replace(acc, lit(from), lit(to)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  // ---- URL / domain curation (crawl-side filtering) -----------------------

  /** Structural URL signals for crawl curation — the per-document fields
    * a CCNet/FineWeb-style pipeline filters and reports on: host (port
    * stripped), registrable-ish domain (last two host labels — a
    * heuristic, NOT the public-suffix list: `example.co.uk` yields
    * `co.uk`; deployments needing PSL semantics broadcast their own
    * suffix table through [[urlFilter]]'s domain argument), tld, path
    * depth, query-parameter count, and an is-IP flag.
    *
    * Deliberately spelled with `substring_index`/`regexp` string ops
    * rather than `parse_url` (whose java.net.URI semantics a SQL oracle
    * cannot replay): every field is a pure string fold both engines
    * compute identically, codegen'd, map-side, zero shuffle.
    */
  def urlSignals(url: Column): Column = {
    val afterScheme = substring_index(url, "://", -1)
    val hostPort = substring_index(substring_index(afterScheme, "/", 1), "?", 1)
    val host = lower(substring_index(hostPort, ":", 1))
    val pathQ = afterScheme.substr(length(hostPort) + 1, lit(1 << 24))
    val path = substring_index(pathQ, "?", 1)
    val query = when(pathQ.contains("?"), substring_index(pathQ, "?", -1))
      .otherwise(lit(""))
    val labels = split(host, "\\.")
    val isIp = host.rlike("^[0-9.]+$")
    struct(
      host.as("host"),
      when(isIp, host)
        .otherwise(array_join(slice(labels, greatest(size(labels) - 1, lit(1)),
          lit(2)), ".")).as("domain"),
      when(isIp, lit("")).otherwise(element_at(labels, -1)).as("tld"),
      size(filter(split(path, "/"), s => length(s) > 0)).as("path_depth"),
      when(length(query) === 0, lit(0))
        .otherwise(size(split(query, "&"))).as("n_params"),
      isIp.as("is_ip"))
  }

  /** Canonical URL form for crawl-level dedup — the "same resource,
    * different spellings" collapse that runs BEFORE content dedup (a
    * re-crawl under a tracking-tagged link must not re-enter the
    * corpus). Deterministic, purely textual, SQL-replayable:
    * fragment stripped; scheme dropped (http/https serve one resource);
    * host lowercased, default :80/:443 ports and a leading `www.`
    * removed; `/index.html` and trailing slashes folded; query
    * parameters with tracking keys (`utm_*`, gclid, fbclid, ref,
    * mc_cid/mc_eid) dropped and the rest SORTED (param order never
    * distinguishes resources). Pure map-side column expression.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = substring_index(url, "#", 1)
    // strip only a LEADING scheme: substring_index on '://' would split
    // at the LAST occurrence, so a URL embedding another absolute URL
    // (redirect/outlink params — common in crawls) would canonicalize
    // to the EMBEDDED url and collapse distinct resources
    val afterScheme = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    val hostPortRaw = substring_index(substring_index(afterScheme, "/", 1), "?", 1)
    val hostPort = lower(hostPortRaw)
    val host = regexp_replace(
      regexp_replace(hostPort, ":(80|443)$", ""), "^www\\.", "")
    val pathQ = afterScheme.substr(length(hostPortRaw) + 1, lit(1 << 24))
    val rawPath = substring_index(pathQ, "?", 1)
    val path = regexp_replace(
      regexp_replace(rawPath, "/index\\.html?$", ""), "/+$", "")
    // everything after the FIRST '?' (a literal '?' is legal inside a
    // query value; last-occurrence splitting would drop the prefix)
    val query = when(pathQ.contains("?"),
      pathQ.substr(length(rawPath) + 2, lit(1 << 24))).otherwise(lit(""))
    val params = array_sort(filter(split(query, "&"), p =>
      length(p) > 0 &&
        !p.rlike("^(utm_[a-z]+|gclid|fbclid|ref|mc_cid|mc_eid)=")))
    concat(host, path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
  }

  /** Drop documents whose URL domain or tld is blocklisted — the
    * broadcast-set crawl filter ([[urlSignals]]' consumer). Both lists
    * are literal IN-lists compiled into the predicate (blocklists are
    * config-sized; a corpus-sized blocklist belongs in a Bloom filter /
    * left_anti join instead). Adds the signals struct as `url_sig` for
    * downstream reporting.
    */
  def urlFilter(df: DataFrame, urlCol: String,
      blockedDomains: Seq[String], blockedTlds: Seq[String]): DataFrame = {
    val sig = urlSignals(col(urlCol))
    val keep =
      (if (blockedDomains.isEmpty) lit(true)
       else !col("url_sig.domain").isInCollection(blockedDomains)) &&
      (if (blockedTlds.isEmpty) lit(true)
       else !col("url_sig.tld").isInCollection(blockedTlds))
    df.withColumn("url_sig", sig).where(keep)
  }

  /** Hyperlink targets of a raw HTML payload: every `href` attribute
    * value, in document order. One codegen'd `regexp_extract_all` pass —
    * quote style is whichever of `"`/`'` opens the attribute, the value
    * stops at the first quote, `#` (fragments are not link targets),
    * whitespace or angle bracket. RE2-compatible (no backreference
    * pairing the quotes — a `href='a"b'` value truncates at the `"`;
    * acceptable for link-GRAPH purposes, where such urls are noise) so a
    * SQL oracle replays the extraction byte for byte.
    */
  def extractLinks(html: Column): Column =
    regexp_extract_all(html, lit("""(?i)href\s*=\s*["']([^"'#<>\s]+)"""), lit(1))

  /** `(href, anchor)` pairs of a raw HTML payload: every `<a …href=…>`
    * tag with the text up to the next element open — the anchor-text
    * signal (what OTHER pages call a target; the classic relevance /
    * target-description feature a retrieval corpus mines alongside the
    * link graph). Two-stage extraction keeps it RE2-replayable with
    * single-group engines: one `regexp_extract_all` pulls whole
    * `<a…>text` matches, then per-match `regexp_extract`s split off the
    * href and the trailing text — all codegen'd array/string ops, no UDF.
    * Anchor text stops at the first `<` (nested markup inside the anchor
    * is link-graph noise, same contract as [[extractLinks]]' quote
    * truncation).
    */
  def extractAnchors(html: Column): Column = {
    val tags = regexp_extract_all(html,
      lit("""(?i)<a\s[^>]*href\s*=\s*["'][^"'#<>\s]+[^>]*>[^<]*"""), lit(0))
    transform(tags, t => struct(
      regexp_extract(t, """(?i)href\s*=\s*["']([^"'#<>\s]+)""", 1).as("href"),
      regexp_extract(t, """>([^<]*)$""", 1).as("anchor")))
  }

  /** Cross-domain anchor-text aggregation: how the web describes each
    * target domain — `(dst_domain, anchor, n)` over every absolute
    * http(s) link whose target domain differs from the page's own
    * (same-site anchors are navigation, not description). Anchor text is
    * normalized `lower(trim(…))`; empties drop.
    *
    * Scale shape mirrors [[linkGraph]]: extraction, domain parsing and
    * normalization are map-side codegen'd folds over the page payloads;
    * the ONLY shuffle is the partial-aggregated count keyed on
    * (domain, anchor) — vocabulary-of-descriptions cardinality, never
    * page or link count.
    */
  def anchorStats(df: DataFrame, urlCol: String, htmlCol: String): DataFrame =
    df.withColumn("__src_sig", urlSignals(col(urlCol)))
      .select(col("__src_sig.domain").as("src_domain"),
        explode(extractAnchors(col(htmlCol))).as("__a"))
      .where(col("__a.href").startsWith("http://") ||
        col("__a.href").startsWith("https://"))
      .withColumn("__dst_sig", urlSignals(col("__a.href")))
      .select(col("src_domain"), col("__dst_sig.domain").as("dst_domain"),
        lower(trim(col("__a.anchor"))).as("anchor"))
      .where(col("dst_domain") =!= col("src_domain") && col("anchor") =!= "")
      .groupBy("dst_domain", "anchor").agg(count(lit(1)).as("n"))

  /** Domain-level link graph from crawled pages: each absolute http(s)
    * `href` in a page yields one `(src_domain, dst_domain)` edge under
    * the [[urlSignals]] domain rule, self-loops dropped, edges
    * de-duplicated — the input to the PageRank quality prior every
    * large crawl corpus curates with (domain authority as a document
    * signal, the public CommonCrawl host-graph practice).
    *
    * Scale shape: extraction and domain parsing are map-side codegen'd
    * string folds over the page payloads; the only shuffle is the edge
    * `distinct`, keyed on DOMAIN PAIRS — cardinality is the web-graph's
    * edge count (millions), never the corpus's page or link count, and
    * the partial-aggregate form of `distinct` collapses repeated pairs
    * before they move. Relative hrefs are intra-site by construction
    * and carry no cross-domain signal, so only absolute links qualify.
    */
  def linkGraph(df: DataFrame, urlCol: String, htmlCol: String): DataFrame =
    // the src struct materializes BEFORE the explode select: a generator
    // in the same select strips sibling inline-struct field names
    df.withColumn("__src_sig", urlSignals(col(urlCol)))
      .select(col("__src_sig.domain").as("src_domain"),
        explode(extractLinks(col(htmlCol))).as("__href"))
      .where(col("__href").startsWith("http://") ||
        col("__href").startsWith("https://"))
      .withColumn("__dst_sig", urlSignals(col("__href")))
      .select(col("src_domain"), col("__dst_sig.domain").as("dst_domain"))
      .where(col("dst_domain") =!= col("src_domain"))
      .distinct()

  def contaminationScore(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int, flagDenom: Int = 20): DataFrame = {
    require(flagDenom > 0, s"flagDenom $flagDenom must be positive")
    def grams(df: DataFrame): DataFrame = df.select(col(idCol),
      explode(distinctGramsUdf(TextOps.tokens(col(textCol)), lit(n)))
        .as("__gram"))
    val benchGrams = grams(benchmark).select("__gram").distinct()
      .withColumn("__hit", lit(1L))
    grams(corpus)
      .join(broadcast(benchGrams), Seq("__gram"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_shared"))
      .withColumn("flagged",
        (col("n_shared") * flagDenom >= col("n_grams")).cast("int"))
  }
}
