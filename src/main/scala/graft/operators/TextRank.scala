package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked text retrieval and corpus n-gram statistics — the text-side
  * counterpart of the embedding similarity operators: BM25 scoring against
  * a (small) query set, and corpus-wide n-gram frequency tables.
  *
  * Scale design (100 TB):
  *  - BM25 never builds a materialized inverted index: per-doc term
  *    frequencies are computed map-side from the token array, then
  *    IMMEDIATELY filtered to the query vocabulary (broadcast — a few
  *    hundred terms), so the only shuffled rows are (doc, query-term)
  *    hits. Document frequencies aggregate over that filtered set (the
  *    per-term doc count is unchanged by dropping other terms). Corpus
  *    scalars (N, avg length) ride a broadcast crossJoin of two 1-row
  *    aggregates; scoring is one groupBy(doc, query) and top-k is the
  *    standard per-query window.
  *  - N-gram counting is explode → groupBy(ngram) with map-side partial
  *    aggregation; the `minCount` cutoff applies before any ordering, and
  *    the final top-k is a single `orderBy.limit` (Spark executes it as
  *    TakeOrderedAndProject — per-partition heaps, no full sort).
  */
object TextRank {

  /** Whitespace tokens, lowercased — matches [[TextOps.tokens]] splitting
    * so BM25 and the text-stats operators agree on token identity.
    */
  def lowerTokens(text: Column): Column =
    graft.functions.Tokenize.wsCol(lower(text))

  /** BM25 top-k documents per query (Robertson–Spärck Jones idf in the
    * `ln(1 + (N - n + 0.5)/(n + 0.5))` form — always positive).
    *
    * `queries` is a small in-memory set (query_id, text); its vocabulary
    * is broadcast twice: once to prune the corpus term-frequency rows,
    * once as the per-query term list for scoring. Output:
    * (query_id, rank, doc_id, score) with score rounded to `roundTo`
    * decimals so cross-engine float comparison is exact; rank ties break
    * by doc id.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int, k1: Double = 1.2,
      b: Double = 0.75, roundTo: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val qTerms = queries
      .flatMap { case (qid, text) =>
        text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
          .map(t => (qid, t))
      }
      .toDF("query_id", "tok")
    val vocab = qTerms.select("tok").distinct()

    // (doc, tok, tf, len) for query-vocabulary tokens only
    val toks = docs.select(col(idCol).as("doc_id"),
        lowerTokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("len"),
        explode(col("toks")).as("tok"))
    val tf = toks.join(broadcast(vocab), Seq("tok"))
      .groupBy("doc_id", "len", "tok")
      .agg(count(lit(1)).cast("double").as("tf"))

    // corpus scalars: N and average doc length (over ALL docs)
    val stats = docs.select(size(lowerTokens(col(textCol))).as("len"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("len")).as("avg_len"))

    // per-term document frequency within the pruned set
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("nt"))

    val idf = log(lit(1.0) +
      (col("n_docs") - col("nt") + 0.5) / (col("nt") + 0.5))
    val tfNorm = col("tf") * (k1 + 1.0) /
      (col("tf") + (col("len") / col("avg_len") * b + (1.0 - b)) * k1)
    val scored = tf
      .join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(stats))
      .join(broadcast(qTerms), Seq("tok"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(idf * tfNorm), roundTo).as("score"))

    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Top-`k` TF-IDF terms per document — the keyword-extraction /
    * sparse-feature primitive (idf in the smoothed `ln((N+1)/(df+1)) + 1`
    * form, always positive, so single-occurrence terms still rank).
    * Output: (idCol, rank, term, score) with score rounded to `roundTo`
    * decimals and rank ties broken by term, making the result engine-exact.
    *
    * Scale shape: explode → groupBy(doc, term) carries one partial-agg
    * shuffle keyed by (doc, term); the document-frequency table is |vocab|
    * rows (orders of magnitude below the corpus) aggregated from the tf
    * rows, then joined back BY TERM — hot terms ("the") are one vocab row
    * against that term's tf rows, the shape AQE's shuffle-hash join
    * handles without skew mitigation. The per-doc top-k window pushes a
    * partial WindowGroupLimit below its shuffle (Spark ≥3.5), so only ~k
    * candidate rows per document reach the final exchange.
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int,
      roundTo: Int = 4): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(lowerTokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("__df"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("__tf") * (log((col("__n") + 1.0) / (col("__df") + 1.0)) + 1.0),
          roundTo))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }

  /** Word n-grams of each document's token array as space-joined strings
    * (documents shorter than n contribute none).
    */
  def ngrams(text: Column, n: Int): Column = {
    val toks = lowerTokens(text)
    // guard: sequence(1, x) DESCENDS for x < 1, it is not empty.
    // concat_ws over element_at is O(n) per window; a slice-per-window
    // formulation allocates an array per window (O(len·n) garbage) and
    // dominated the gate's profile.
    when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Compiled tokenizer matching [[lowerTokens]] exactly: SQL `trim`
    * strips SPACES only (Java's String.trim strips every char <= 0x20,
    * which would swallow leading/trailing tabs/newlines and change the
    * token list), and split keeps trailing empties via limit -1, like
    * Spark's `split`.
    */
  private val wsPattern = java.util.regex.Pattern.compile("\\s+")
  private def sqlTrim(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }
  private def tokenize(text: String): Array[String] =
    wsPattern.split(sqlTrim(text.toLowerCase), -1)

  /** FNV-1a 64-bit over the chars of `n` consecutive tokens with a
    * per-token frame byte — the INTERNAL window key for the counting
    * pass (never user-visible; both phases use this same function, so
    * only its self-consistency matters, up to 64-bit collisions).
    */
  private def windowHash(toks: Array[String], start: Int, n: Int): Long = {
    var h = 0xcbf29ce484222325L
    var t = 0
    while (t < n) {
      val s = toks(start + t)
      var i = 0
      while (i < s.length) {
        h ^= s.charAt(i).toLong
        h *= 0x100000001b3L
        i += 1
      }
      h ^= 0x1eL // frame separator: ("ab") never collides with ("a","b")
      h *= 0x100000001b3L
      t += 1
    }
    h
  }

  /** Top-k corpus n-grams by document-independent occurrence count,
    * keeping only n-grams with at least `minCount` occurrences. Ties
    * break lexicographically. Output: (ngram, cnt).
    *
    * Two phases, neither of which ever shuffles an n-gram string for a
    * non-finalist window — and neither of which runs an interpreted
    * higher-order-function lambda per window (the HOF formulation of
    * this operator evaluated ~2-3× slower than the scan itself):
    *  1. COUNT on a compiled 64-bit window hash (one tokenize + one
    *    rolling hash per doc in a single UDF; map-side partial agg on
    *    long keys; the post-cutoff (hash, cnt) summary persists
    *    spill-safely at 16 bytes per surviving n-gram). The k-th highest
    *    count becomes the finalist threshold; every hash at or above it
    *    is a finalist (boundary ties inflate the candidate set, never
    *    truncate it).
    *  2. RESOLVE strings for finalists only: a re-scan builds the
    *    display string just for windows whose hash is in the (tiny,
    *    task-shipped) finalist set, dedups map-side, and joins counts
    *    back; the final k-of-finalists ordering is TakeOrderedAndProject.
    *
    * Exactness caveat (documented trade): distinct n-grams colliding at
    * 64 bits would merge counts — probability ~(distinct windows)²/2⁶⁴,
    * negligible below ~2³⁰ distinct n-grams.
    */
  /** Per-document n-gram uniqueness profile: of each document's DISTINCT
    * word n-grams, what fraction occur in no other document (corpus
    * document-frequency 1). A near-zero fraction flags templated /
    * boilerplate-heavy documents that exact and minhash dedup both miss
    * (each copy differs, but every phrase is borrowed); a high fraction
    * marks genuinely novel text: the corpus measured against itself.
    *
    * Shape: the gram multiset via the count-only-generator index explode
    * ([[TextOps.explodeShingles]] — exploding an `array_distinct(...)`
    * expression makes InferFiltersFromGenerate push a hidden quadratic
    * filter below the binding projection; measured 3.4× on this gate),
    * deduplicated to distinct (doc, gram) pairs by one partial-aggregated
    * shuffle (within-doc duplicates die map-side), the document-frequency
    * table from those pairs, a join back BY GRAM (hot grams are one df
    * row vs that gram's doc rows — AQE shuffle-hash territory), and a
    * final groupBy(id) fold. Documents shorter than n tokens surface with
    * n_grams=0 and null fraction.
    */
  def ngramUniqueness(docs: DataFrame, idCol: String, textCol: String,
      n: Int, roundTo: Int = 4): DataFrame = {
    val tokenized = docs
      .select(col(idCol), lowerTokens(col(textCol)).as("__toks"))
    // grams travel as md5-prefix hashes (8-byte shuffle keys, fused
    // one-pass hashing per doc; the oracle replays the same hash) — at
    // corpus scale the two gram-keyed shuffles here move ids+longs, not
    // n-word strings
    val grams = TextOps.explodeShingleHashes(tokenized, "__toks", n,
        "__gram", Seq(idCol))
      .groupBy("__gram", idCol).agg(count(lit(1)).as("__mult"))
      .select(col(idCol), col("__gram"))
    val dfreq = grams.groupBy("__gram").agg(count(lit(1)).as("__df"))
    val perDoc = grams.join(dfreq, Seq("__gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("__uniq"))
      .select(col(idCol), col("n_grams"),
        round(col("__uniq").cast("double") / col("n_grams"), roundTo)
          .as("uniq_frac"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("uniq_frac"))
  }

  /** Token frequency-of-frequency spectrum (the Zipf audit): how many
    * token TYPES occur ~2^b times, and how much token mass they carry —
    * the one-glance corpus-health report (a missing head or bloated
    * singleton tail flags crawl/tokenizer pathologies before training).
    * Bucket = floor(log2(freq)), computed as binary-digit count − 1 so it
    * is integer-exact cross-engine (an FP log2 can land a power of two in
    * the wrong bucket). Two partial-aggregated shuffles: vocabulary, then
    * the ~64-key bucket fold.
    */
  def freqSpectrum(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(lowerTokens(col(textCol))).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
      .select((length(bin(col("__c"))) - 1).cast("int").as("bucket"), col("__c"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_types"), sum("__c").as("mass"))

  /** @param maxFinalistSet largest finalist set shipped as a task
    *   closure before the distributed-join fallback engages (tests
    *   shrink it to force the fallback; both paths are exact)
    */
  def topNgrams(docs: DataFrame, textCol: String, n: Int, k: Int,
      minCount: Long = 2, maxFinalistSet: Int = 262144): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val hashUdf = udf { (text: String) =>
      if (text == null) Array.empty[Long]
      else {
        val toks = tokenize(text)
        if (toks.length < n) Array.empty[Long]
        else Array.tabulate(toks.length - n + 1)(i => windowHash(toks, i, n))
      }
    }
    val counts = docs.select(explode(hashUdf(col(textCol))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val topCnts = counts.orderBy(col("cnt").desc).limit(k)
        .select("cnt").collect().map(_.getLong(0))
      if (topCnts.isEmpty) return Seq.empty[(String, Long)].toDF("ngram", "cnt")
      // with fewer than k survivors everything above the cutoff is final
      val cStar = if (topCnts.length < k) minCount else topCnts.min
      // boundary ties inflate the finalist set (all cnt == cStar hashes
      // are needed for exact lexicographic tie-breaks), and on a
      // heavy-tailed corpus where cStar lands on the tail count that set
      // can be corpus-sized — cap what reaches the driver/task closures
      // and fall back to a distributed resolve past the cap
      val candDf0 = counts.where(col("cnt") >= cStar)
      val cands = candDf0.limit(maxFinalistSet + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      if (cands.length > maxFinalistSet)
        return resolveByJoin(docs, textCol, n, k, candDf0)
      val candSet = cands.map(_._1).toSet

      val resolveUdf = udf { (text: String) =>
        if (text == null) Array.empty[(Long, String)]
        else {
          val toks = tokenize(text)
          if (toks.length < n) Array.empty[(Long, String)]
          else (0 to toks.length - n).iterator.flatMap { i =>
            val h = windowHash(toks, i, n)
            if (candSet(h))
              Iterator.single((h, toks.slice(i, i + n).mkString(" ")))
            else Iterator.empty
          }.toArray
        }
      }
      val resolved = docs.select(explode(resolveUdf(col(textCol))).as("m"))
        .select(col("m._1").as("h"), col("m._2").as("ngram"))
        .distinct()
      val candDf = cands.toSeq.toDF("h", "cnt")
      resolved.join(broadcast(candDf), Seq("h"))
        .select(col("ngram"), col("cnt"))
        .orderBy(col("cnt").desc, col("ngram").asc)
        .limit(k)
    } finally counts.unpersist(false)
  }

  /** Tie-flood fallback: when the finalist set is too large to ship as a
    * task closure, resolve strings with a distributed join instead —
    * every window materializes its (hash, string) pair once (map-side
    * deduped per document by the windowed string builder upstream being
    * skipped here), joins the finalist counts, and the same
    * TakeOrderedAndProject picks the k. Slower than the closure path but
    * bounded at any tie width; exactness is identical.
    */
  private def resolveByJoin(docs: DataFrame, textCol: String, n: Int, k: Int,
      candDf: DataFrame): DataFrame = {
    val pairUdf = udf { (text: String) =>
      if (text == null) Array.empty[(Long, String)]
      else {
        val toks = tokenize(text)
        if (toks.length < n) Array.empty[(Long, String)]
        else {
          // per-doc dedup: one (hash, string) per distinct window
          val seen = new java.util.HashMap[Long, String]()
          var i = 0
          while (i <= toks.length - n) {
            val h = windowHash(toks, i, n)
            if (!seen.containsKey(h))
              seen.put(h, toks.slice(i, i + n).mkString(" "))
            i += 1
          }
          val out = new Array[(Long, String)](seen.size)
          val it = seen.entrySet().iterator()
          var j = 0
          while (it.hasNext) { val e = it.next(); out(j) = (e.getKey, e.getValue); j += 1 }
          out
        }
      }
    }
    docs.select(explode(pairUdf(col(textCol))).as("m"))
      .select(col("m._1").as("h"), col("m._2").as("ngram"))
      .dropDuplicates("h")
      .join(candDf, Seq("h"))
      .select(col("ngram"), col("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(k)
  }

  /** Hybrid retrieval: BM25 lexical candidate generation → embedding
    * cosine rerank (the standard two-stage retrieval stack — cheap sparse
    * recall, dense precision on the short list). Stage 1 is [[bm25TopK]]
    * over the full corpus (broadcast query vocabulary, no corpus
    * shuffle); stage 2 joins only the ≤ queries×`kCandidates` surviving
    * ids against the embedding table and reranks with the codegen'd
    * cosine — the corpus-scale vector column is touched only for
    * candidates, which is what makes the stack viable when the embedding
    * table is 100 TB.
    *
    * `queries`: (query_id, text, query vector). Output:
    * (query_id, rank, doc_id) with rank by (cosine desc, doc_id).
    */
  def hybridTopK(docs: DataFrame, idCol: String, textCol: String,
      embeddings: DataFrame, embIdCol: String, vecCol: String,
      queries: Seq[(Long, String, Array[Float])], kCandidates: Int,
      k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cands = bm25TopK(docs, idCol, textCol,
        queries.map(q => (q._1, q._2)), kCandidates)
      .select(col("query_id"), col("doc_id"))
    val qVecs = queries.map(q => (q._1, q._2, q._3.toSeq))
      .toDF("query_id", "qtext", "q_vec")
      .select(col("query_id"), col("q_vec").cast("array<float>").as("q_vec"))
    val emb = embeddings.select(col(embIdCol).as("doc_id"), col(vecCol).as("c_vec"))
    // candidates are ≤ queries×kCandidates ids — broadcast them so the
    // corpus-scale embedding table is probed, never shuffled (cands comes
    // through a shuffle+window, so without the hint Catalyst has no size
    // estimate and would sort-merge the full table)
    val reranked = emb
      .join(broadcast(cands), Seq("doc_id"))
      .join(broadcast(qVecs), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        graft.functions.VectorOps.cosine(col("q_vec"), col("c_vec")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    reranked.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"))
  }

  /** Reciprocal-rank-fusion hybrid retrieval (Cormack et al., SIGIR 2009
    * — the fusion RAG stacks default to): fuse the BM25 lexical top-k
    * and the dense cosine top-k by `Σ 1/(k0 + rank)`, so a document
    * ranked well by EITHER retriever surfaces, without score-scale
    * calibration between the two (the property that makes RRF robust
    * where weighted score sums need tuning). [[hybridTopK]] is the
    * cascade (lexical candidates THEN dense rerank); this is the union
    * (both retrievers run independently over their own index).
    *
    * Scale shape: both rankers already end in bounded per-query top-k
    * sets (≤ queries × kEach rows), so the fusion join and final window
    * touch only finalists — the corpus is scanned once per retriever,
    * exactly as each standalone. The RRF score is rounded to 6 so rank
    * order is engine-independent; absent-from-one-ranker contributes 0.
    *
    * Output: (query_id, rank, doc_id, rrf).
    */
  def rrfTopK(docs: DataFrame, idCol: String, textCol: String,
      embeddings: DataFrame, embIdCol: String, vecCol: String,
      queries: Seq[(Long, String, Array[Float])], kEach: Int, k: Int,
      k0: Int = 60): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(kEach >= 1 && k >= 1 && k0 >= 1)
    val lex = bm25TopK(docs, idCol, textCol,
        queries.map(q => (q._1, q._2)), kEach)
      .select(col("query_id"), col("doc_id"), col("rank").as("__lex"))
    val qVecs = queries.map(q => (q._1, q._3.toSeq))
      .toDF(embIdCol, vecCol)
      .select(col(embIdCol), col(vecCol).cast("array<float>").as(vecCol))
    val dense = Similarity.topKCosine(
        embeddings.select(col(embIdCol), col(vecCol)), embIdCol, vecCol,
        qVecs, kEach)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("__dense"))
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(k0) + col("__lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("__dense")), lit(0.0)), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): rank
    * corpus vocabulary by PageRank centrality over the word co-occurrence
    * graph — adjacent-token pairs, undirected, deduplicated (the paper's
    * unweighted variant with window 2). A word that co-occurs with many
    * well-connected words outranks a merely frequent one, which is what
    * separates keywords from stopword-tier fillers.
    *
    * Scale shape: the edge list is one explode + one distinct, bounded by
    * the distinct co-occurring pair count (vocabulary², not corpus
    * tokens); [[GraphRank.pageRank]] then classifies the symmetric graph
    * and runs the minimal no-node-join plan. Nothing corpus-sized rides
    * an iteration.
    */
  def textRankKeywords(docs: DataFrame, textCol: String, iters: Int = 3,
      k: Int = 20): DataFrame = {
    val toks = docs.select(TextOps.tokens(col(textCol)).as("tk"))
    // count-only generator + per-row subscripts: exploding the built pair
    // array would make InferFiltersFromGenerate push a hidden filter that
    // re-tokenizes per element (see TextOps.explodeShingles)
    val adj = toks.where(size(col("tk")) >= 2)
      .select(col("tk"), explode(sequence(lit(1), size(col("tk")) - 1)).as("__i"))
      .select(element_at(col("tk"), col("__i")).as("a"),
        element_at(col("tk"), col("__i") + 1).as("b"))
      .where(col("a") =!= col("b"))
    val canon = adj
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val sym = canon.unionByName(canon.select(col("b").as("a"), col("a").as("b")))
    GraphRank.pageRank(sym, "a", "b", iters)
      .select(col("id").as("word"), round(col("rank"), 4).as("rank"))
      .orderBy(col("rank").desc, col("word").asc)
      .limit(k)
  }

  /** Weighted TextRank: like [[textRankKeywords]] but edges carry the
    * CO-OCCURRENCE COUNT (the Mihalcea & Tarau weighted formulation) —
    * rank flows proportionally to how often two words are adjacent, so a
    * pair glued together across the corpus transfers more mass than an
    * incidental one. Same scale shape: the weighted edge list is one
    * partial-agg shuffle bounded by distinct pairs.
    */
  def textRankKeywordsWeighted(docs: DataFrame, textCol: String, iters: Int = 3,
      k: Int = 20): DataFrame = {
    val toks = docs.select(TextOps.tokens(col(textCol)).as("tk"))
    // count-only generator + per-row subscripts: exploding the built pair
    // array would make InferFiltersFromGenerate push a hidden filter that
    // re-tokenizes per element (see TextOps.explodeShingles)
    val adj = toks.where(size(col("tk")) >= 2)
      .select(col("tk"), explode(sequence(lit(1), size(col("tk")) - 1)).as("__i"))
      .select(element_at(col("tk"), col("__i")).as("a"),
        element_at(col("tk"), col("__i") + 1).as("b"))
      .where(col("a") =!= col("b"))
    val canon = adj
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).cast("double").as("w"))
    val sym = canon.unionByName(
      canon.select(col("b").as("a"), col("a").as("b"), col("w")))
    GraphRank.pageRank(sym, "a", "b", iters, weightCol = Some("w"))
      .select(col("id").as("word"), round(col("rank"), 4).as("rank"))
      .orderBy(col("rank").desc, col("word").asc)
      .limit(k)
  }

  /** Retrieval quality metrics of a ranking against a per-query relevance
    * set: hits@k, recall@k, precision@k and MRR — the agreement scorecard
    * a retrieval stack runs after every index/ranker change (and, with
    * `truth` = a second ranker's top-k, the lexical-vs-dense divergence
    * monitor for a hybrid system).
    *
    * `ranking` is (query_id, rank, doc_id), `truth` is (query_id,
    * doc_id). A query in `truth` with no ranked hits scores zeros (LEFT
    * join from the truth's query set, so silence is visible, not
    * missing). All metrics are ratios of integers rounded to 6 —
    * engine-exact. Both inputs are per-query top-k sized, so every join
    * here touches finalists only.
    */
  def retrievalMetrics(ranking: DataFrame, truth: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1)
    val topk = ranking.where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"))
    // DCG folds the SORTED hit-rank list sequentially (collect_list order
    // is nondeterministic; an unsorted float sum could flip the rounding
    // cross-engine), with binary relevance: Σ 1/log2(rank+1)
    def foldDcg(ranks: Column): Column =
      aggregate(ranks, lit(0.0),
        (acc, r) => acc + lit(1.0) / (log(r.cast("double") + 1.0) / log(lit(2.0))))
    val hits = topk.join(truth.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("hits"), min(col("rank")).as("__first"),
        foldDcg(array_sort(collect_list(col("rank")))).as("__dcg"))
    val truthSz = truth.groupBy("query_id")
      .agg(count(lit(1)).as("n_truth"))
    val idcg = foldDcg(sequence(lit(1L), least(col("n_truth"), lit(k.toLong))))
    truthSz.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / col("n_truth"), 6).as("recall"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 6).as("p_at_k"),
        round(coalesce(lit(1.0) / col("__first"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("__dcg"), lit(0.0)) / idcg, 6).as("ndcg"))
  }

  /** PMI-ranked bigram collocations (Church & Hanks 1990 — the classic
    * vocabulary-building statistic; surfaces multi-word units like
    * "new york" that a tokenizer or phrase-merger should treat as one
    * symbol). For adjacent token pair (a, b):
    *
    *   pmi(a, b) = ln( p(a b) / (p(a) p(b)) )
    *             = ln( c(ab) * U^2 / (B * c(a) * c(b)) )
    *
    * with c(ab) the bigram occurrence count, c(·) unigram occurrence
    * counts, B total bigram occurrences, U total unigram occurrences —
    * an exact integer ratio under ln, so `roundTo` makes the score
    * cross-engine comparable. `minCount` prunes rare pairs (PMI's known
    * hapax bias: a pair seen once between two hapaxes maximizes PMI).
    *
    * Scale (100 TB): two corpus-linear gram-keyed partial aggregations
    * (unigram + bigram counts), then the bigram table joins the unigram
    * table twice on a single word key — the unigram table is
    * vocabulary-sized, so the join is left un-hinted for AQE to
    * broadcast while small and shuffle when it isn't. The two corpus
    * scalars ride broadcast 1-row crossJoins. `minCount` filters before
    * the joins, so join input is the pruned pair vocabulary.
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long,
      roundTo: Int = 4): DataFrame = {
    val tokenized = docs.select(lowerTokens(col(textCol)).as("__toks"))
    // the two count tables are staged (vocabulary-sized, sublinear in the
    // corpus) because each has a second consumer — the U/B corpus scalars
    // aggregate off them, so the corpus is tokenized exactly TWICE (the
    // two explodes), not a third time for totals
    val uni = Staged.materialize(
      tokenized.select(explode(col("__toks")).as("__tok"))
        .groupBy("__tok").agg(count(lit(1)).as("__c")))
    val big0 = Staged.materialize(
      TextOps.explodeShingles(tokenized, "__toks", 2, "gram", Nil)
        .groupBy("gram").agg(count(lit(1)).as("pair_cnt")))
    val totals = uni.agg(sum("__c").as("__u"))
      .crossJoin(big0.agg(sum("pair_cnt").as("__b")))
    val pairs = big0.where(col("pair_cnt") >= minCount)
    pairs
      .withColumn("__w1", split(col("gram"), " ").getItem(0))
      .withColumn("__w2", split(col("gram"), " ").getItem(1))
      .join(uni.withColumnRenamed("__tok", "__w1")
        .withColumnRenamed("__c", "__ca"), Seq("__w1"))
      .join(uni.withColumnRenamed("__tok", "__w2")
        .withColumnRenamed("__c", "__cb"), Seq("__w2"))
      .crossJoin(broadcast(totals))
      .select(col("gram"), col("pair_cnt"),
        // double math (not long) — the U^2 product overflows int64 on a
        // 100 TB corpus; the oracle mirrors the same parenthesization
        // + 0.0 canonicalizes IEEE -0.0 (a just-below-1 ratio rounds to
        // negative zero, which hash-compares unequal to 0.0)
        (round(log(col("pair_cnt").cast("double") * col("__u") * col("__u") /
          (col("__b").cast("double") * col("__ca") * col("__cb"))),
          roundTo) + lit(0.0)).as("pmi"))
  }

  /** Per-document character-distribution Shannon entropy — the cheap
    * gibberish/binary-noise detector (natural language sits ~2.5-4.5
    * bits-of-e; base64 blobs and key-mash noise run higher, repeated-
    * char padding collapses toward 0). Computed as
    * `ln(n) − (Σ k·ln k)/n` over per-character counts k (one ln per
    * DISTINCT character, ≤ alphabet size — numerically tighter than
    * folding −p·ln p per char).
    *
    * Scale: explode to characters, but the (doc, char)-keyed partial
    * aggregation compresses each doc to ≤ |alphabet| rows map-side
    * before the one shuffle — shuffled volume is docs×alphabet, not
    * corpus characters. Empty/null docs report (0, NULL).
    */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String,
      roundTo: Int = 4): DataFrame = {
    val cc = docs
      .select(col(idCol), explode(split(col(textCol), "")).as("__c"))
      .where(col("__c") =!= "")
      .groupBy(col(idCol), col("__c")).agg(count(lit(1)).as("__k"))
    val perDoc = cc.groupBy(col(idCol))
      .agg(sum("__k").as("n_chars"),
        sum(col("__k").cast("double") * log(col("__k").cast("double")))
          .as("__klnk"))
      .select(col(idCol), col("n_chars"),
        // + 0.0 canonicalizes IEEE -0.0 (a single-char doc's entropy is
        // an exact 0 but fp cancellation can land at -1e-16)
        (round(log(col("n_chars").cast("double")) -
          col("__klnk") / col("n_chars"), roundTo) + lit(0.0))
          .as("char_entropy"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        col("char_entropy"))
  }

  /** Per-group lexical diversity: distinct token types, total token
    * occurrences, and the type-token ratio — the vocabulary-richness
    * audit per source/language (a templated or machine-generated slice
    * shows an anomalously low TTR for its size). Two-stage aggregation:
    * the (group, token) partial agg compresses map-side before the one
    * vocabulary-keyed shuffle; never a countDistinct expand.
    */
  def lexicalDiversity(docs: DataFrame, groupCol: String, textCol: String,
      roundTo: Int = 4): DataFrame =
    docs.select(col(groupCol).as("group"),
        explode(lowerTokens(col(textCol))).as("__t"))
      .groupBy("group", "__t").agg(count(lit(1)).as("__k"))
      .groupBy("group")
      .agg(count(lit(1)).as("types"), sum("__k").as("tokens"))
      .select(col("group"), col("types"), col("tokens"),
        round(col("types").cast("double") / col("tokens"), roundTo).as("ttr"))

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * n-grams whose global first occurrence (minimum `idCol` over the
    * corpus) is this document. Documents early in corpus order score
    * near 1; a late exact copy scores 0 — the metric quantifies how
    * much genuinely new n-gram content each document contributes under
    * the corpus's ingest order (a dedup-quality / curriculum signal:
    * Lee et al. 2022 measure dedup effect exactly this way).
    *
    * Output: (idCol, n_grams = distinct n-grams, novel_frac rounded);
    * docs with fewer than n tokens report (0, NULL).
    *
    * Scale: same shape as [[ngramUniqueness]] — one explode with a
    * (gram, doc) partial-agg dedup, a gram-keyed min, one gram-keyed
    * join back. Linear in corpus tokens, no driver state.
    */
  def novelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int, roundTo: Int = 4): DataFrame = {
    val tokenized = docs
      .select(col(idCol), lowerTokens(col(textCol)).as("__toks"))
    val grams = TextOps.explodeShingles(tokenized, "__toks", n,
        "__gram", Seq(idCol))
      .groupBy("__gram", idCol).agg(count(lit(1)).as("__mult"))
      .select(col(idCol), col("__gram"))
    val firstSeen = grams.groupBy("__gram").agg(min(col(idCol)).as("__first"))
    val perDoc = grams.join(firstSeen, Seq("__gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).as("__nov"))
      .select(col(idCol), col("n_grams"),
        round(col("__nov").cast("double") / col("n_grams"), roundTo)
          .as("novel_frac"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("novel_frac"))
  }
}
