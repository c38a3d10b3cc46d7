package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Deduplication operators for large-scale text pipelines.
  *
  * Scale design (100 TB): every variant works through hash-partitioned
  * shuffles on bounded keys — no driver-side collection, no O(n²) compare.
  * Candidate generation is banded LSH (only rows sharing a band bucket are
  * joined), so the pair space is proportional to true near-duplicates.
  * Known skew risk: a degenerate band bucket (e.g. empty documents) fans
  * out quadratically — callers should pre-filter empties; AQE skew-join
  * handles moderate cases.
  */
object Dedup {

  /** 128-bit content key for dedup: the comparison/shuffle key is 16 bytes
    * regardless of document size, so a 100 TB dedup shuffles hashes + row
    * payloads once instead of comparing multi-KB text keys. Collision odds
    * at 2^64 docs are ~2^-1 (birthday) — at realistic corpus sizes (<2^40)
    * they are negligible (<2^-48).
    */
  private[operators] def contentKey(cols: Seq[String]): Column =
    md5(to_json(struct(cols.map(col): _*)))

  /** Exact dedup on arbitrary key columns. Hash shuffle keyed on a 16-byte
    * content hash of the key columns (not the raw values).
    */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumn("__ck", contentKey(cols))
      .dropDuplicates("__ck")
      .drop("__ck")

  /** Exact dedup keeping the smallest id per content key (deterministic,
    * unlike dropDuplicates' arbitrary row pick). Groups on the 16-byte
    * content hash, so only (hash, id) pairs shuffle — never the text.
    * Output: one row per distinct key with columns (fp, idCol).
    */
  def exactKeepMin(df: DataFrame, key: String, idCol: String): DataFrame =
    df.select(contentKey(Seq(key)).as("fp"), col(idCol))
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))

  // ---- MinHash + LSH -----------------------------------------------------

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands // 4

  /** One 64-bit FNV-1a pass over a string (the per-shingle base hash). */
  private def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Regex-`\s` whitespace, the exact class `split(trim(c), "\\s+")` uses
    * — Character.isWhitespace would diverge on unicode spaces.
    */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Whole-signature computation per document in one tight pass over the
    * RAW text: token boundaries are scanned in place, each 3-token shingle
    * is FNV-1a hashed directly from the char buffer (no per-token strings,
    * no per-shingle concatenation, no Seq boxing — the round-2 profile was
    * dominated by exactly those allocations), and the 64 minhash functions
    * derive by rotate-and-xor double hashing with running minima. Null
    * (filtered) for documents shorter than 3 tokens.
    */
  private val signatureUdf = udf { (text: String) =>
    if (text == null) null
    else {
      val n = text.length
      var starts = new Array[Int](64)
      var ends = new Array[Int](64)
      var count = 0
      var i = 0
      while (i < n) {
        while (i < n && isWs(text.charAt(i))) i += 1
        if (i < n) {
          val s = i
          while (i < n && !isWs(text.charAt(i))) i += 1
          if (count == starts.length) {
            starts = java.util.Arrays.copyOf(starts, count * 2)
            ends = java.util.Arrays.copyOf(ends, count * 2)
          }
          starts(count) = s
          ends(count) = i
          count += 1
        }
      }
      if (count < 3) null
      else {
        val sig = Array.fill(NumHashes)(Long.MaxValue)
        var t = 0
        while (t <= count - 3) {
          // FNV-1a over "tok tok tok" straight from the text buffer
          var h1 = 0xcbf29ce484222325L
          var k = t
          while (k <= t + 2) {
            var p = starts(k)
            val e = ends(k)
            while (p < e) {
              h1 ^= text.charAt(p)
              h1 *= 0x100000001b3L
              p += 1
            }
            if (k < t + 2) {
              h1 ^= ' '
              h1 *= 0x100000001b3L
            }
            k += 1
          }
          // avalanche for the second base hash (splitmix64 finalizer)
          var h2 = h1 + 0x9e3779b97f4a7c15L
          h2 = (h2 ^ (h2 >>> 30)) * 0xbf58476d1ce4e5b9L
          h2 = (h2 ^ (h2 >>> 27)) * 0x94d049bb133111ebL
          h2 = h2 ^ (h2 >>> 31)
          var j = 0
          while (j < NumHashes) {
            val h = h1 ^ java.lang.Long.rotateLeft(h2, j)
            if (h < sig(j)) sig(j) = h
            j += 1
          }
          t += 1
        }
        sig
      }
    }
  }

  /** MinHash signature per document — computed MAP-SIDE in a single UDF
    * evaluation (no shingle explode, no 64-way aggregation shuffle; the
    * expression form paid interpreted higher-order-function cost per
    * shingle and a 4M-row shuffle at sf0.1). Signatures depend only on the
    * document's own tokens, so the operator is embarrassingly parallel;
    * the only shuffle in the dedup pipeline is the banded candidate join.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      signatureUdf(col(textCol)).as("sig"))
      .where(col("sig").isNotNull)

  /** Candidate pairs sharing at least one LSH band (16 bands × 4 rows),
    * annotated with the signature-estimated Jaccard similarity.
    *
    * Degenerate-bucket guard: buckets larger than `maxBucket` are dropped
    * BEFORE the self-join (one tiny (band,bucket) aggregation). A
    * degenerate bucket — all-empty documents, a boilerplate shingle set —
    * otherwise fans out quadratically in corpus size; the cap bounds any
    * bucket's pair contribution at maxBucket² and only discards candidates
    * whose signatures collide with >maxBucket other docs, which at that
    * frequency are boilerplate, not near-duplicates.
    */
  /** LSH band buckets for a signature frame: one (id, band, bucket) row
    * per band — the shared candidate-blocking key for batch and streaming
    * near-dup. `rowsPerBand` defaults to the production 16×4 banding;
    * [[minhashPrecisionAudit]] passes 2 (32 bands × 2 rows) for its
    * recall-boosted candidate pass (see the scaladoc there).
    */
  def bandBuckets(sigs: DataFrame, idCol: String,
      rowsPerBand: Int = RowsPerBand): DataFrame = {
    // a non-divisor would silently drop the signature's tail positions
    require(rowsPerBand > 0 && NumHashes % rowsPerBand == 0,
      s"rowsPerBand $rowsPerBand must divide the $NumHashes minhash positions")
    val bands = NumHashes / rowsPerBand
    sigs.select(
      col(idCol),
      posexplode(array((0 until bands).map { b =>
        xxhash64((0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
      }: _*)).as(Seq("band", "bucket")))
  }

  def minhashCandidates(sigs: DataFrame, idCol: String,
      maxBucket: Int = 10000, rowsPerBand: Int = RowsPerBand): DataFrame = {
    // band on (id, bucket) ONLY — shipping the 512-byte signature through
    // every band replicates it ×16 through the widest shuffle; signatures
    // join back by id once per side, and only for surviving candidates
    val banded0 = bandBuckets(sigs, idCol, rowsPerBand)
    val banded = capBuckets(banded0, maxBucket)
    val pairs = banded.select(col(idCol).as("a_id"), col("band"), col("bucket"))
      .join(banded.select(col(idCol).as("b_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    pairs
      .join(sigs.select(col(idCol).as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(sigs.select(col(idCol).as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        sigAgreement(col("a_sig"), col("b_sig")).as("est_jaccard"))
  }

  /** Fraction of agreeing minhash positions — one primitive loop per pair
    * (the zip_with/aggregate HOF form runs interpreted per element).
    */
  private[graft] val sigAgreement = udf { (a: Seq[Long], b: Seq[Long]) =>
    var c = 0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      if (a(i) == b(i)) c += 1
      i += 1
    }
    c.toDouble / NumHashes
  }

  /** Full MinHash near-dup pipeline: signatures → banded candidates →
    * threshold on estimated Jaccard.
    *
    * Signatures are PERSISTED while the operator computes: the candidate
    * stage consumes them three times (banding, then one join back per pair
    * side), and recomputing the signature UDF over the corpus per consumer
    * triples the dominant CPU cost. The pair RESULT (bounded — proportional
    * to true near-duplicates, not the corpus) is materialized via [[Staged]]
    * and the signature cache released before returning, so repeated
    * invocations in a long-lived session leave no resident blocks.
    */
  /** @param rowsPerBand production dedup keeps the default 16×4 blocking
    *   (cheap, misses absorbed by component transitivity); the
    *   observability gates that must EQUAL an exact-set oracle pass 2
    *   (32 bands × 2 rows — see [[minhashPrecisionAudit]]'s scaladoc for
    *   the measured recall numbers).
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, rowsPerBand: Int = RowsPerBand): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Staged.materialize(
      minhashCandidates(sigs, idCol, rowsPerBand = rowsPerBand)
        .where(col("est_jaccard") >= threshold))
    finally sigs.unpersist(false)
  }

  /** Near-dup connected components straight from the corpus — the
    * signature cache is managed HERE: [[connectedComponents]]' first
    * step already materializes the candidate pairs into its edge-list
    * checkpoint, so routing through the staged [[minhashNearDups]] would
    * pay a second, redundant materialization of the same pair set (r15 —
    * one parquet round trip per caller). Output: (idCol, component) as
    * [[connectedComponents]].
    */
  def nearDupComponents(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try connectedComponents(
      minhashCandidates(sigs, idCol).where(col("est_jaccard") >= threshold),
      "a_id", "b_id").withColumnRenamed("id", idCol)
    finally sigs.unpersist(false)
  }

  // ---- incremental dedup (new batch vs an existing corpus) ---------------

  /** The id-join operators cast ids to long (connected components, the
    * near-dup anti-joins). A non-numeric id would cast to NULL and fail
    * SILENTLY — every comparison turns NULL, anti-joins stop removing
    * anything, window groups collapse — so fail loudly up front instead.
    */
  private[operators] def requireIntegralId(df: DataFrame, idCol: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(idCol).dataType
    val integral = dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType
    require(integral,
      s"$op requires an integral id column (ids are joined as long); '$idCol' is $dt")
  }

  /** Exact incremental dedup: rows of `batch` whose content key (md5 of
    * `keyCols`) does NOT already occur in `corpus` — the daily-delta shape
    * (dedup a new crawl against the accumulated 100 TB corpus without
    * reprocessing the corpus).
    *
    * Scale shape: the batch is the small side by construction, so its
    * distinct keys broadcast; the corpus is probed MAP-SIDE by a
    * broadcast semi-join (never shuffled, never collected), and only the
    * matching keys — bounded by the batch size — come back to drive the
    * anti-join. Two corpus-free broadcast joins; the corpus is read once.
    */
  def dedupAgainst(batch: DataFrame, corpus: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val bKeys = batch.select(contentKey(keyCols).as("__ck")).distinct()
    val hits = corpus.select(contentKey(keyCols).as("__ck"))
      .join(broadcast(bKeys), Seq("__ck"), "left_semi")
      .distinct()
    batch.withColumn("__ck", contentKey(keyCols))
      .join(broadcast(Staged.materialize(hits)), Seq("__ck"), "left_anti")
      .drop("__ck")
  }

  /** Precision audit of the banded MinHash pass: every flagged candidate
    * pair re-scored with its EXACT 3-shingle Jaccard (the signature's own
    * shingle size) and histogrammed by
    * integer decile — the observability report that tells a curation run
    * whether its LSH threshold/banding are surfacing true near-dups or
    * noise, BEFORE committing to a destructive dedup. (The estimate can
    * only be audited against exact overlap; a pair count alone says
    * nothing about quality.)
    *
    * Scale shape: exact Jaccard is recomputed ONLY for documents that
    * appear in a flagged pair (broadcast semi-join on the pair ids, which
    * are bounded by true duplicates) — the corpus at large never joins on
    * shingles. Each member's distinct shingle-hash SET stays an ARRAY
    * (one row per member, never exploded), so no shingle-row shuffle
    * exists anywhere: members shuffle once per pair side by id, and the
    * intersection is a per-pair `array_intersect` — pairs×overlap work,
    * not pairs×doc-length shuffle volume. (The previous formulation
    * exploded member shingles and re-aggregated them through a
    * (id, gram) shuffle plus a (b_id, gram) join shuffle; at sf10 that
    * moved ~200M shingle rows three times — the arrays move each
    * member's 8-byte hashes exactly twice, already deduplicated.)
    * Bucket arithmetic is integer (`10*i div union`), so the
    * histogram is engine-exact.
    */
  def minhashPrecisionAudit(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // The audit's flagged set is DECLARED as {pairs with est_jaccard >=
    // threshold} (the oracle computes the exact->=threshold set and the
    // fixture family's jaccard gap — pinned by q_pipeline_oracle_guard —
    // makes the two coincide). The production 16-band×4-row blocking has
    // a real recall gap exactly at the flag boundary: a pair agreeing on
    // 40/64 positions (est 0.625) misses ALL 16 four-row bands with
    // probability (1-0.625^4)^16 ≈ 11%, and two such pairs exist at
    // sf0.1 (doc pairs (1018,201083) exact J=11/15 and (4599,203436)
    // J=9/13 — the r15 one-pair-per-bucket oracle blemish). The audit
    // therefore blocks on 32 bands × 2 rows over the SAME signatures:
    // every 4-row band hit is a 2-row band hit (strictly more sensitive,
    // so no pair the production pass surfaces is ever lost), the miss
    // probability at the boundary drops to (1-0.625²)^32 ≈ 4e-7, and the
    // est filter unchanged. Cost: 2× banded rows and ~5× candidates at
    // sf0.1 (30k vs 6k) — bounded by the same bucket cap, and only the
    // audit pays it; the destructive dedup paths keep the cheap blocking.
    val sigs = minhashSignatures(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs =
      try Staged.materialize(
        minhashCandidates(sigs, idCol, rowsPerBand = 2)
          .where(col("est_jaccard") >= threshold))
        .select("a_id", "b_id")
      finally sigs.unpersist(false)
    val ids = pairs.select(col("a_id").as("id"))
      .unionByName(pairs.select(col("b_id").as("id"))).distinct()
    // per-member distinct shingle-hash array, computed MAP-SIDE in one
    // fused gram pass per document ([[graft.functions.GramHash]]; the
    // md5-prefix hashes the oracle replays). array_distinct inside the
    // projection replaces the old (id, gram) partial-agg shuffle.
    // `ids` is a distinct over the tiny STAGED pair parquet and has one
    // consumer (this broadcast, evaluated once into the arrs staging
    // write) — broadcasting it lazily skips a whole staging round trip
    // (r15: ~0.2 s of pure fixed cost at any scale)
    val arrs = Staged.materialize(df
      .select(col(idCol).cast("long").as("id"),
        TextOps.tokens(col(textCol)).as("__tk"))
      .join(broadcast(ids), Seq("id"))
      .where(size(col("__tk")) >= 3)
      .select(col("id"),
        array_distinct(graft.functions.GramHash.shingleHash60Col(col("__tk"), 3))
          .as("sh")))
    val scored = pairs
      .join(arrs.select(col("id").as("a_id"), col("sh").as("__sa")), Seq("a_id"))
      .join(arrs.select(col("id").as("b_id"), col("sh").as("__sb")), Seq("b_id"))
      .select(size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("i"),
        size(col("__sa")).cast("long").as("na"),
        size(col("__sb")).cast("long").as("nb"))
      .select((lit(10) * col("i") / (col("na") + col("nb") - col("i")))
        .cast("long").cast("int").as("bucket"))
    scored.groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
  }

  /** Exact incremental dedup via a Bloom pre-filter — the variant of
    * [[dedupAgainst]] for when the BATCH is itself too large to broadcast
    * its exact key set (week-sized deltas, corpus-vs-corpus audits).
    * The corpus's content keys aggregate into a fixed-size Bloom filter
    * ([[graft.functions.Sketches.bloom]] — one mergeable partial per
    * partition, one row out), which broadcasts at CONSTANT cost
    * regardless of corpus size. Probing it map-side splits the batch:
    * definite-new rows (no false negatives — the majority, when deltas
    * are mostly fresh content) skip verification entirely; only the
    * maybes (true duplicates + the deterministic false-positive sliver)
    * go through [[dedupAgainst]]'s broadcast probe — whose batch-key
    * broadcast is now bounded by the duplicate count instead of the raw
    * batch size, and the corpus stays scanned-never-shuffled end to end
    * (`OperatorPlanSpec` asserts no corpus-side shuffle join).
    *
    * Output is EXACTLY the anti-join semantics of [[dedupAgainst]] —
    * false positives are verified away, never dropped. Sizing: fp rate ≈
    * (1 − e^(−seeds·n/mBits))^seeds; at the default 2^20 bits / 3 seeds
    * a 100k-key corpus probes at ~0.2% fp; grow mBits with the corpus
    * (the filter stays a single constant-size broadcast row). Practical
    * ceiling: the sketch evals to an int-per-bit array for builtin
    * probes, so keep mBits ≤ ~2^24 (≈64 MB broadcast); past that — a
    * multi-billion-key corpus — a higher fp rate is the sane trade (the
    * maybes are verified exactly either way).
    */
  def bloomDedupAgainst(batch: DataFrame, corpus: DataFrame,
      keyCols: Seq[String], mBits: Int = 1 << 20, seeds: Int = 3): DataFrame = {
    import graft.functions.Sketches
    val bf = corpus.select(contentKey(keyCols).as("__ck"))
      .agg(Sketches.bloom(col("__ck"), mBits, seeds).as("__bf"))
    val keyed = batch.withColumn("__ck", contentKey(keyCols))
      .crossJoin(broadcast(bf))
      .withColumn("__maybe",
        Sketches.bloomMightContain(col("__bf"), col("__ck"), mBits, seeds))
      .drop("__bf", "__ck")
    val definiteNew = keyed.where(!col("__maybe")).drop("__maybe")
    val verified = dedupAgainst(keyed.where(col("__maybe")).drop("__maybe"),
      corpus, keyCols)
    definiteNew.unionByName(verified)
  }

  /** Near-dup pairs between a new `batch` and an existing `corpus`:
    * (b_id, c_id, est_jaccard) for every batch document whose minhash
    * signature agrees with a corpus document's at >= `threshold` and
    * shares at least one LSH band — the near-dup half of incremental
    * ingestion.
    *
    * Scale shape: batch signatures persist for the duration of the call
    * (the batch is small); the corpus is scanned twice but NEVER persisted
    * and never fully shuffled — its banded keys are pruned map-side
    * against the broadcast batch band set (≤ |batch|×16 keys), and the
    * second scan ships only signatures of candidate ids (bounded by the
    * batch's bucket fan-out) through a broadcast semi-join. Bucket-cap
    * skew guard applies to the pruned band set, which contains every
    * corpus member of a probed bucket, so degenerate buckets still cap.
    * Callers pass disjoint id spaces (a shared id would pair a row with
    * itself).
    */
  def nearDupAgainst(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double, maxBucket: Int = 10000): DataFrame = {
    requireIntegralId(batch, idCol, "nearDupAgainst")
    requireIntegralId(corpus, idCol, "nearDupAgainst")
    val bSigs = minhashSignatures(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cSigs = minhashSignatures(corpus, idCol, textCol)
      bandProbe(bSigs, cSigs, bandBuckets(cSigs, idCol), idCol, threshold, maxBucket)
    } finally bSigs.unpersist(false)
  }

  /** The probe half of [[nearDupAgainst]], shared with the persisted
    * [[BandStore]]: batch bands against corpus (sigs, bands) frames —
    * computed inline by `nearDupAgainst`, read from storage by the store.
    * Corpus bands are pruned map-side against the broadcast batch band
    * set before the bucket cap and join; the second corpus pass ships
    * only candidate-id signatures through a broadcast semi.
    */
  private[operators] def bandProbe(bSigs: DataFrame, cSigs: DataFrame,
      cBands: DataFrame, idCol: String, threshold: Double,
      maxBucket: Int): DataFrame =
    Staged.materialize(
      bandProbePairs(bSigs, cSigs, cBands, idCol, threshold, maxBucket))

  /** [[bandProbe]] WITHOUT the staging — for callers that project the
    * verified pairs down before materializing (the incremental-dedup
    * gate stages only the distinct hit ids: one smaller staging write,
    * one fewer post-read distinct exchange). The frame still references
    * `bSigs`' persisted blocks; callers must materialize before
    * releasing them, exactly like the staged form.
    */
  private def bandProbePairs(bSigs: DataFrame, cSigs: DataFrame,
      cBands: DataFrame, idCol: String, threshold: Double,
      maxBucket: Int): DataFrame = {
    val bBands = bandBuckets(bSigs, idCol)
    val probeKeys = bBands.select("band", "bucket").distinct()
    val pruned = cBands.join(broadcast(probeKeys), Seq("band", "bucket"), "left_semi")
    // the candidate-pair subtree embeds the FULL corpus signature+band
    // pass (cBands); it feeds three consumers below (the c_id semi-join
    // broadcast and both sides of the scoring join reference it), and an
    // unstaged frame re-runs that corpus pass per consumer. Stage the
    // tiny (b_id, c_id) set ONCE — bounded by the batch's bucket
    // fan-out, never the corpus — so the corpus band pass runs exactly
    // once at any scale.
    val cand = Staged.materialize(
      bBands.select(col(idCol).as("b_id"), col("band"), col("bucket"))
        .join(capBuckets(pruned, maxBucket)
          .select(col(idCol).as("c_id"), col("band"), col("bucket")),
          Seq("band", "bucket"))
        .select("b_id", "c_id")
        .dropDuplicates("b_id", "c_id"))
    // the semi-join on candidate ids sits ABOVE the signature projection
    // here, but Catalyst's PushDownLeftSemiAntiJoin moves it below (the
    // condition only references the pass-through id), so the second
    // corpus pass computes signatures ONLY for candidate rows — bounded
    // by the batch's bucket fan-out, never the corpus
    val cHitSigs = cSigs.select(col(idCol).as("c_id"), col("sig").as("c_sig"))
      .join(broadcast(cand.select("c_id").distinct()), Seq("c_id"), "left_semi")
    cand
      .join(bSigs.select(col(idCol).as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .join(cHitSigs, Seq("c_id"))
      .select(col("b_id"), col("c_id"),
        sigAgreement(col("b_sig"), col("c_sig")).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** The distinct batch-side ids with at least one verified near-dup in
    * the corpus — [[nearDupAgainst]] projected to what the incremental
    * anti-join consumes, with the projection INSIDE the staging: the
    * full-pair staging wrote (b_id, c_id, est) rows that the gate
    * immediately re-read, re-shuffled for a distinct, and discarded all
    * but one column of (two extra stage-jobs of pure fixed cost at any
    * scale; the pair payload scales with true duplicates).
    */
  private def nearDupHitIds(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double, maxBucket: Int = 10000): DataFrame = {
    val bSigs = minhashSignatures(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cSigs = minhashSignatures(corpus, idCol, textCol)
      Staged.materialize(
        bandProbePairs(bSigs, cSigs, bandBuckets(cSigs, idCol), idCol,
          threshold, maxBucket)
          .select(col("b_id").cast("long").as("__hit"))
          .distinct())
    } finally bSigs.unpersist(false)
  }

  /** Full incremental dedup: `batch` rows that survive BOTH the exact
    * content check and the minhash near-dup check against `corpus`. The
    * exact stage runs first so verbatim re-crawls never reach the
    * signature stage (the common case for a daily delta).
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    requireIntegralId(batch, idCol, "incrementalDedup")
    val exactSurvivors = dedupAgainst(batch, corpus, Seq(textCol))
    val nearHits = nearDupHitIds(exactSurvivors, corpus, idCol, textCol, threshold)
    exactSurvivors.join(broadcast(nearHits),
        col(idCol).cast("long") === col("__hit"), "left_anti")
  }

  /** Snapshot diff between two corpus versions keyed on `idCol`: one row
    * per id with `status` ∈ added / removed / changed / unchanged — the
    * audit primitive for incremental pipelines ("what did crawl N+1
    * actually change"). Only (id, 16-byte content hash) pairs go through
    * the full-outer join — the payloads never shuffle — and the statuses
    * depend solely on hash equality, so a SQL oracle can replay them with
    * NULL-SAFE value equality (`IS NOT DISTINCT FROM` — the content hash
    * maps equal-including-both-null columns to equal keys, so null==null
    * reads 'unchanged', not SQL-NULL).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      cols: Seq[String]): DataFrame = {
    val o = oldDf.select(col(idCol), contentKey(cols).as("__ofp"))
    val n = newDf.select(col(idCol), contentKey(cols).as("__nfp"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ofp").isNull, "added")
          .when(col("__nfp").isNull, "removed")
          .when(col("__ofp") === col("__nfp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Per-source duplication profile: for every source, how many documents
    * it contributes, how many DISTINCT texts those are (in-source dup
    * ratio), and how many of its distinct texts also appear in at least
    * one OTHER source (cross-source contamination — the "mirror sites in
    * my crawl mix" audit a data-mixing pipeline runs before assigning
    * per-source sampling rates). Returns (source, n_docs, n_distinct,
    * n_cross).
    *
    * Only (source, 16-byte hash) pairs shuffle — three partial-aggregated
    * exchanges (per-(source,hash) fold, per-hash source spread, per-source
    * fold), each input already deduped by the previous, so the heaviest
    * exchange is bounded by distinct-text volume, never corpus text.
    */
  def sourceProfile(df: DataFrame, textCol: String,
      srcCol: String): DataFrame = {
    val h = df.select(col(srcCol).as("source"), md5(col(textCol)).as("__h"))
    val perSrcHash = h.groupBy("source", "__h").agg(count(lit(1)).as("__c"))
    val spread = perSrcHash.groupBy("__h").agg(count(lit(1)).as("__nsrc"))
    perSrcHash.join(spread, Seq("__h"))
      .groupBy("source")
      .agg(sum("__c").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("__nsrc") >= 2, 1L).otherwise(0L)).as("n_cross"))
  }

  /** Corpus-wide paragraph dedup (the RefinedWeb / CCNet rung between
    * line-level boilerplate removal and token-window span dedup): split
    * every document on `sep`, keep only the globally FIRST occurrence of
    * each distinct paragraph (ordered by (id, position)), and rebuild the
    * documents from their surviving paragraphs. Returns (`idCol`,
    * `textCol` rebuilt, `n_removed`) for every input document — a document
    * whose every paragraph is a repeat comes back with empty text.
    *
    * Scale shape: the winner per distinct paragraph is `min(struct(id,
    * pos, para))` under a groupBy on the paragraph hash — a partial-
    * aggregatable min, so a paragraph duplicated a million times
    * corpus-wide collapses map-side to one candidate per input partition
    * BEFORE the exchange (the window-rank formulation would instead sort
    * the whole hot key in one partition). The paragraph text rides inside
    * the min struct (id is compared first), so no join-back against the
    * exploded set is needed: duplicates never reach the rebuild, whose
    * groupBy(id) + the final per-doc count join share one hash
    * partitioning on id.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val paras = df
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), quoted)).as(Seq("__pos", "__para")))
    val winners = paras
      .groupBy(md5(col("__para")).as("__h"))
      .agg(min(struct(col("__id"), col("__pos"), col("__para"))).as("__w"))
      .select(col("__w.__id").as("__id"), col("__w.__pos").as("__pos"),
        col("__w.__para").as("__para"))
    val rebuilt = winners
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("__kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
            s => s.getField("__para")),
          sep).as("__text"))
    df.select(col(idCol), size(split(col(textCol), quoted)).as("__n"))
      .join(rebuilt, col(idCol) === rebuilt("__id"), "left")
      .select(col(idCol),
        coalesce(col("__text"), lit("")).as(textCol),
        (col("__n") - coalesce(col("__kept"), lit(0L))).cast("long").as("n_removed"))
  }

  /** WITHIN-document repeated-paragraph removal: keep the first
    * occurrence of each distinct paragraph inside a document, drop later
    * copies, rebuild byte-exactly — the intra-doc sibling of
    * [[paragraphDedup]] (which dedups ACROSS documents). Scraped pages
    * repeat nav blocks and footers inside one document; this is the CCNet
    * per-document pass that runs before any corpus-wide dedup.
    *
    * Scale shape: a single higher-order-function fold over the split
    * array — per-row state only, NO shuffle at any size (the cross-doc
    * variant necessarily shuffles paragraph hashes; this one never leaves
    * the row). Quadratic in a document's paragraph count, which is small
    * by construction.
    */
  def dedupWithinDoc(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    df.select(col(idCol), split(col(textCol), quoted).as("__ps"))
      .select(col(idCol), col("__ps"),
        aggregate(col("__ps"),
          array().cast(ArrayType(StringType)),
          (acc, x) => when(array_contains(acc, x), acc)
            .otherwise(concat(acc, array(x)))).as("__kept"))
      .select(col(idCol),
        array_join(col("__kept"), sep).as(textCol),
        (size(col("__ps")) - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** Quality-aware canonical selection: keep the BEST-scoring member of
    * every near-dup cluster (ties broken by smallest id) instead of the
    * smallest-id member — dedup that preserves the highest-quality copy
    * (longest, cleanest, most recent …), which is what a curation pipeline
    * actually wants when a boilerplate-stripped mirror outscores the
    * original. Singletons (documents in no cluster) always survive.
    *
    * One near-dup pass (signatures → banded candidates → threshold), the
    * component map from [[connectedComponents]] (bounded by true
    * duplicates), then a single hash shuffle on the cluster key for the
    * per-cluster arg-max window — `WindowGroupLimit` caps candidates below
    * the exchange, so the shuffle carries ~1 row per (cluster, partition).
    */
  def keepBestNearDups(df: DataFrame, idCol: String, textCol: String,
      score: Column, threshold: Double): DataFrame = {
    requireIntegralId(df, idCol, "keepBestNearDups")
    // pairs feed exactly one consumer (the component builder), whose first
    // step checkpoints them anyway — nearDupComponents skips the staged
    // operator's redundant pair parquet (r15)
    val comps = nearDupComponents(df, idCol, textCol, threshold)
    // the arg-max window runs over cluster MEMBERS only, on a narrow
    // (id, score, component) frame — the corpus (text included) must not
    // ride through a window exchange for the sake of its singletons, which
    // by definition win their own group. Losers (members minus one winner
    // per cluster) are bounded by true duplicate volume.
    val members = df.select(col(idCol), score.as("__score"))
      .join(comps, Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(col("__score").desc, col(idCol).asc)
    val losers = members.withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1)
      .select(idCol)
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Drop (band, bucket) groups larger than `maxBucket` before a bucket
    * self-join (skew guard shared by the banded-LSH operators). A window
    * count over (band, bucket) shuffles the banded set ONCE — the earlier
    * aggregate-then-join form shuffled it twice — and leaves the output
    * hash-distributed on exactly the keys the downstream bucket self-join
    * uses, so the join adds no re-exchange.
    */
  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    banded.withColumn("__n", count(lit(1)).over(w))
      .where(col("__n") <= maxBucket)
      .drop("__n")
  }

  // ---- duplicated-span detection (exact substring-dedup signal) ----------

  /** FNV-1a hash of every `spanTokens`-token window, one UDF pass over the
    * raw char buffer (token boundaries scanned in place, same tokenizer as
    * the minhash shingles). Null for docs shorter than spanTokens tokens.
    */
  private def spanHashUdf(spanTokens: Int) = udf { (text: String) =>
    if (text == null) null
    else {
      val n = text.length
      var starts = new Array[Int](64)
      var ends = new Array[Int](64)
      var count = 0
      var i = 0
      while (i < n) {
        while (i < n && isWs(text.charAt(i))) i += 1
        if (i < n) {
          val s = i
          while (i < n && !isWs(text.charAt(i))) i += 1
          if (count == starts.length) {
            starts = java.util.Arrays.copyOf(starts, count * 2)
            ends = java.util.Arrays.copyOf(ends, count * 2)
          }
          starts(count) = s
          ends(count) = i
          count += 1
        }
      }
      if (count < spanTokens) null
      else Array.tabulate(count - spanTokens + 1) { t =>
        var h = 0xcbf29ce484222325L
        var k = t
        while (k < t + spanTokens) {
          var p = starts(k)
          val e = ends(k)
          while (p < e) {
            h ^= text.charAt(p)
            h *= 0x100000001b3L
            p += 1
          }
          if (k < t + spanTokens - 1) {
            h ^= ' '
            h *= 0x100000001b3L
          }
          k += 1
        }
        h
      }
    }
  }

  /** One (id, span_start, span_hash) row per `spanTokens`-token window —
    * span_start is the 0-based token index of the window.
    */
  def spanHashes(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame =
    df.select(col(idCol),
        posexplode(spanHashUdf(spanTokens)(col(textCol)))
          .as(Seq("span_start", "span_hash")))

  /** Every occurrence of a DUPLICATED span: a window whose content occurs
    * at least twice in the corpus (within- or cross-document) — the exact
    * substring-dedup signal of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (ACL 2022), whose suffix-array pass
    * this is the shuffle-friendly window form of. Output:
    * (idCol, span_start, span_hash, occurrences, docs) per occurrence —
    * a trimming pass drops or splits documents at the flagged windows.
    *
    * Scale (100 TB): linear end to end — span rows are (id, int, 8-byte
    * hash) and shuffle ONCE on the hash for the multiplicity count; the
    * occurrence join keys on the same hash (no re-exchange of the
    * grouped side), there is no self-join and therefore no quadratic
    * pair space, and a boilerplate span repeated a million times costs
    * its million linear occurrence rows, not a 10^12 pair fan-out.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    val spans = spanHashes(df, idCol, textCol, spanTokens)
    val dup = spans.groupBy("span_hash")
      .agg(count(lit(1)).as("occurrences"), count_distinct(col(idCol)).as("docs"))
      .where(col("occurrences") >= 2)
    spans.join(dup, Seq("span_hash"))
      .select(col(idCol), col("span_start"), col("span_hash"),
        col("occurrences"), col("docs"))
  }

  /** Rebuild text from the tokens NOT covered by any removed span window:
    * tokenize, drop token indexes in [s, s+L) for each removed start,
    * join survivors with single spaces (whitespace normalizes — the same
    * contract as every token-level operator here).
    *
    * Tokenization MUST mirror [[spanHashUdf]]'s isWs scan exactly:
    * `text.trim.split("\\s+")` is NOT equivalent — Java trim strips every
    * char <= U+0020 (including control chars outside regex `\s`), so a doc
    * starting with e.g. " " would lose a token and shift every
    * span_start, cutting the wrong windows.
    */
  private[operators] def trimUdf(spanTokens: Int) = udf { (text: String, starts: Seq[Int]) =>
    if (text == null || starts == null || starts.isEmpty) text
    else {
      val toks = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        val n = text.length
        var i = 0
        while (i < n) {
          while (i < n && isWs(text.charAt(i))) i += 1
          if (i < n) {
            val s = i
            while (i < n && !isWs(text.charAt(i))) i += 1
            buf += text.substring(s, i)
          }
        }
        buf.toArray
      }
      val removed = new Array[Boolean](toks.length)
      starts.foreach { s =>
        var i = s
        while (i < s + spanTokens && i < toks.length) { removed(i) = true; i += 1 }
      }
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < toks.length) {
        if (!removed(i)) {
          if (sb.length > 0) sb.append(' ')
          sb.append(toks(i))
        }
        i += 1
      }
      sb.toString
    }
  }

  /** Trim duplicated spans, keeping ONE canonical occurrence of each
    * (the minimum (id, span_start) — Lee et al. keep a single copy of
    * every repeated substring): all other occurrences' token windows are
    * removed and each document is rebuilt from its surviving tokens.
    * Output: (idCol, textCol) for EVERY input row, trimmed where flagged,
    * whitespace-normalized only where rebuilt.
    *
    * Window-grain, single-pass: overlapping flagged windows union into
    * one removed region, and windows newly formed across a cut are not
    * re-examined — the standard one-pass approximation of the
    * suffix-array trim.
    *
    * Scale: [[duplicateSpans]]' linear shape plus one per-doc
    * collect_list of removed starts (bounded by the doc's own token
    * count) and a map-side rebuild — no new shuffle classes.
    */
  def trimDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    val dup = duplicateSpans(df, idCol, textCol, spanTokens)
    val canon = dup.groupBy("span_hash")
      .agg(min(struct(col(idCol), col("span_start"))).as("__c"))
    val removeStarts = dup.join(canon, Seq("span_hash"))
      .where(!(col(idCol) === col(s"__c.$idCol") &&
        col("span_start") === col("__c.span_start")))
      .groupBy(col(idCol))
      .agg(collect_list(col("span_start").cast("int")).as("__starts"))
    df.join(removeStarts, Seq(idCol), "left")
      .select(col(idCol),
        trimUdf(spanTokens)(col(textCol), col("__starts")).as(textCol))
  }

  // ---- SimHash -----------------------------------------------------------

  /** Per-document SimHash in one pass: hash each token once (FNV-1a),
    * accumulate 64 per-bit majority votes, assemble the hash. */
  private val simhashUdf = udf { (toks: Seq[String]) =>
    val votes = new Array[Int](64)
    if (toks != null) toks.foreach { t =>
      val h = fnv1a64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  /** 64-bit SimHash per document: per-bit majority vote over token hashes.
    * Computed MAP-SIDE per document (the expression form exploded tokens
    * and paid a 64-sum aggregation shuffle; simhash depends only on the
    * document's own tokens, so no shuffle belongs here at all).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), simhashUdf(TextOps.tokens(col(textCol))).as("simhash"))

  /** Near-dup pairs by SimHash: band the 64-bit hash into `maxHamming + 1`
    * keys, join within bands, verify with popcount(xor) <= maxHamming.
    *
    * Band count is derived from the radius (pigeonhole): a pair within
    * Hamming distance h differs in at most h bands, so with h+1 bands at
    * least one band is identical and the pair is guaranteed to become a
    * candidate. Fixed 4×16-bit banding would only cover h <= 3.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, maxBucket: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming $maxHamming out of range")
    val sh = simhash(df, idCol, textCol)
    val nBands = maxHamming + 1
    val bandKeys = (0 until nBands).map { i =>
      val start = i * 64 / nBands
      val width = (i + 1) * 64 / nBands - start
      val mask = if (width >= 64) -1L else (1L << width) - 1
      shiftrightunsigned(col("simhash"), start).bitwiseAND(mask)
    }
    val banded = capBuckets(sh.select(col(idCol), col("simhash"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bucket"))), maxBucket)
    val a = banded.select(col(idCol).as("a_id"), col("simhash").as("a_sh"), col("band"), col("bucket"))
    val b = banded.select(col(idCol).as("b_id"), col("simhash").as("b_sh"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
  }

  // ---- n-gram / word-set Jaccard (exact) ----------------------------------

  /** Exact word-set intersection/union counts for candidate pairs — integer
    * outputs so cross-engine compare is exact; the jaccard >= t filter is
    * the integer inequality (1+1/t)·i >= ... callers express it on i/u
    * directly.
    *
    * Tokens with document frequency > `maxDf` are dropped from BOTH the
    * intersection and the set sizes: a hot token ("the") otherwise fans the
    * token self-join out quadratically in corpus size while contributing
    * almost nothing to the Jaccard signal. The cap bounds per-token join
    * fan-out at maxDf², independent of corpus size.
    */
  def wordSetPairs(df: DataFrame, idCol: String, textCol: String,
      maxDf: Int = 1000): DataFrame = {
    val allToks = df.select(col(idCol).as("id"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
    val rare = allToks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select("tok")
    val toks = allToks.join(rare, Seq("tok"))
    val sizes = toks.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = toks.select(col("id").as("a_id"), col("tok"))
      .join(toks.select(col("id").as("b_id"), col("tok")), Seq("tok"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter_cnt"))
    inter
      .join(sizes.select(col("id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("inter_cnt"),
        (col("na") + col("nb") - col("inter_cnt")).as("union_cnt"))
  }

  // ---- connected components (dedup-group clustering) ----------------------

  /** Connected components over a near-duplicate pair list — the step that
    * turns pairwise dedup output (minhash/simhash/semantic pairs) into
    * canonical KEEP/DROP groups: every document in a component is a
    * transitive near-duplicate of the representative (the component's
    * minimum id), so a pipeline keeps the representative and drops the
    * rest.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * published shuffle-friendly CC formulation. Each round is two
    * aggregate+join passes over the edge list; the edge set converges to a
    * star per component in O(log n) rounds even for path graphs (label
    * propagation would need O(diameter)). Per-round `localCheckpoint`
    * truncates lineage so the iteration count doesn't stack plans.
    *
    * Scale (100 TB): state is only the edge list (pairs of longs), hash
    * partitioned; per-node neighborhood minima are aggregations (no
    * collect_list, so a high-degree node costs one combiner cell, not a
    * buffered array). The convergence check is a count+hash aggregate —
    * one tiny job per round, no driver-side edge materialization.
    *
    * Small graphs short-circuit to a driver-side union-find: below
    * `localThreshold` edges (default 2^20 ≈ 16 MB of id pairs) the
    * distributed iteration's ~2 jobs × O(log n) rounds are pure scheduling
    * overhead — near-dup graphs are pair lists proportional to true
    * duplicates, usually tiny relative to the corpus. The dispatch is one
    * count over the deduped edge list (the job the convergence signature
    * would run anyway); at 100 TB a giant edge list takes the distributed
    * branch unchanged.
    *
    * Input: any two id columns castable to long (self-loops dropped).
    * Output: (id, component) for every node appearing in an edge, where
    * component = min id of the node's component. Isolated rows never enter
    * the edge list — callers left-join and coalesce to the row's own id.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, localThreshold: Long = 1L << 20): DataFrame = {
    var e = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(true)
    // localCheckpoint persists its RDD outside the CacheManager; track each
    // round's blocks and release them as soon as the next round (or the
    // staged result) is materialized — otherwise every round's edge list
    // stays resident until driver GC
    var live = Staged.checkpointRdd(e)
    if (localThreshold > 0 && e.count() <= localThreshold) {
      // toLocalIterator consumes the edge list fully inside localComponents
      // (driver rows), so the checkpoint can be released immediately after
      val out = try localComponents(e) finally live.foreach(_.unpersist(false))
      return out
    }
    def sig(df: DataFrame): (Long, Long) = {
      // bit_xor (not sum): order-independent and overflow-free under ANSI;
      // edges are distinct so xor cancellation can't mask a real change
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prev = sig(e)
    var it = 0
    var converged = prev._1 == 0L
    while (it < maxIter && !converged) {
      // large-star: attach every neighbor v > u to the minimum of u's
      // closed neighborhood
      val bidir = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val nbrMin = bidir.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val large = bidir.join(nbrMin, Seq("u"))
        .where(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("a"), greatest(col("v"), col("m")).as("b"))
        .where(col("a") =!= col("b"))
        .distinct()
      // small-star: direct edges from the larger endpoint; attach each
      // smaller neighborhood (and the node itself) to its minimum
      val down = large.select(col("b").as("u"), col("a").as("v")) // u > v
      val dMin = down.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withMin = down.join(dMin, Seq("u"))
      val small = withMin
        .select(col("m").as("a"), col("v").as("b")).where(col("a") =!= col("b"))
        .unionAll(withMin.select(col("m").as("a"), col("u").as("b")))
        .distinct()
        .localCheckpoint(true)
      // the new checkpoint is materialized — the prior round's edge blocks
      // are dead state; release them now instead of at driver GC
      live.foreach(_.unpersist(false))
      live = Staged.checkpointRdd(small)
      val cur = sig(small)
      converged = cur == prev
      prev = cur
      e = small
      it += 1
    }
    // fixpoint is a star per component: every edge is (root, member).
    // The component map (one row per node touched by an edge — bounded by
    // 2× the pair count) is staged so the final checkpoint can be released.
    val out = Staged.materialize(
      e.select(col("b").as("id"), col("a").as("component"))
        .unionAll(e.select(col("a").as("id"), col("a").as("component")))
        .groupBy(col("id")).agg(min(col("component")).as("component")))
    live.foreach(_.unpersist(false))
    out
  }

  /** Driver-side union-find (path halving + union by min) for small edge
    * lists — same output contract as the distributed branch.
    */
  private def localComponents(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    val it = e.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) {
        // union by min so the representative is the component minimum
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      } else {
        parent.putIfAbsent(ra, ra)
      }
    }
    val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    val keys = parent.keySet().iterator()
    val seen = new java.util.HashSet[Long]()
    while (keys.hasNext) {
      val k = keys.next()
      rows += ((k, find(k)))
      seen.add(k)
    }
    // roots that never appear as a key (e.g. the minimum of a two-node
    // component is only ever a VALUE in the parent map)
    val vals = rows.map(_._2).distinct.filterNot(seen.contains)
    vals.foreach(v => rows += ((v, v)))
    import spark.implicits._
    rows.toSeq.toDF("id", "component")
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every k-token shingle, slide
    * a window of `w` consecutive hashes, keep the window minimum
    * (RIGHTMOST on ties, the paper's robust-winnowing rule). Any shared
    * token run of length ≥ w+k−1 between two documents is GUARANTEED to
    * produce a shared fingerprint — the local-match detector that
    * MinHash (whole-document similarity) is blind to, and the candidate
    * generator for plagiarism/clone-pair search.
    *
    * Output: one row per selected (doc, pos, fp) — pos is the 0-based
    * shingle offset of the selected hash; documents shorter than w+k−1
    * tokens emit nothing.
    *
    * Scale shape: selection is ONE map-side pass per document (higher-
    * order fold over the token array — no shuffle, no UDF); output is
    * bounded by ~2·tokens/w selections per doc (the paper's expected
    * density), so downstream fp-keyed joins move a w-fold reduction of
    * the corpus. Hashes are the md5-prefix integers, so a SQL oracle
    * replays every selection exactly.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame =
    winnowFingerprintsTokens(
      docs.withColumn("__toks", TextOps.tokens(lower(col(textCol)))),
      idCol, "__toks", k, w)

  /** [[winnowFingerprints]] from a PRE-TOKENIZED frame: a composed
    * pipeline tokenizes once, persists the token column, and every stage
    * reads the materialized arrays.
    */
  def winnowFingerprintsTokens(docs: DataFrame, idCol: String, toksCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k $k and w $w must be >= 1")
    // Plan shape care (measured 40× on this operator): (a) tokens and the
    // shingle-hash array are BOUND columns, so no expression re-evaluates
    // inside a window lambda; (b) the GENERATOR depends only on the token
    // COUNT — exploding the selection array itself makes Catalyst's
    // InferFiltersFromGenerate push a `size(selections) > 0` filter below
    // the binding projections, re-inlining the tokenizer inside the
    // shingle lambda (the O(tokens²·regex) trap this repo documents);
    // a count-only generator infers a count-only filter, and the hash
    // array rides ABOVE the Generate as a plain attribute.
    val bound = docs
      .withColumn("__toks", col(toksCol))
      .withColumn("__hs",
        graft.functions.GramHash.shingleHash60Col(col("__toks"), k))
    val nWindows = size(col("__toks")) - (k - 1) - (w - 1)
    val exploded = bound.select(col(idCol), col("__hs"),
      explode(when(nWindows > 0, sequence(lit(0), nWindows - 1))
        .otherwise(typedLit(Seq.empty[Int]))).as("__j"))
    // rightmost occurrence of the window min: first position in the
    // reversed window, mapped back (array_position is 1-based)
    def selPos(j: Column): Column = {
      val sl = slice(col("__hs"), j + 1, lit(w))
      j + (lit(w) - array_position(reverse(sl), array_min(sl)))
    }
    // winnowing dedup: identical selections always come from CONSECUTIVE
    // windows (rightmost-tie rule makes any interior window re-select the
    // same position — proof sketch: a window between two selectors of p
    // has min value h[p] and no equal value right of p inside the later
    // selector's range), so keeping only rows where the previous window
    // selected a different position IS the distinct set — no shuffle.
    // the previous-window probe clamps to window 0 for __j = 0 (the left
    // disjunct already keeps that row): an interpreted Predicate with
    // subexpression elimination evaluates BOTH disjuncts eagerly, and
    // slice(.., 0, w) throws — the unclamped form was safe only while
    // codegen's short-circuit happened to guard it
    exploded
      .where(col("__j") === 0 ||
        selPos(col("__j")) =!= selPos(greatest(col("__j") - 1, lit(0))))
      .select(col(idCol), selPos(col("__j")).cast("int").as("pos"),
        array_min(slice(col("__hs"), col("__j") + 1, lit(w))).as("fp"))
  }

  /** Clone-pair candidates from winnowing: document pairs sharing at
    * least `minShared` distinct [[winnowFingerprints]] selections — the
    * cross-document face of winnowing (MOSS's actual query): boilerplate
    * clusters, licence headers, template families, copied passages.
    *
    * Degenerate-fingerprint guard (the [[minhashNearDups]] bucket rule):
    * a fingerprint present in more than `maxDocsPerFp` documents is a
    * stopword-tier shingle with no discriminative value and quadratic
    * pair cost — its bucket is DROPPED whole, so the pair join is bounded
    * at `maxDocsPerFp²` per fingerprint. Output: (a_id, b_id, shared)
    * with a_id < b_id.
    */
  def winnowClonePairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxDocsPerFp: Int = 64): DataFrame = {
    require(minShared >= 1 && maxDocsPerFp >= 2)
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol), col("fp")).distinct()
    cappedPairJoin(fps, "fp", idCol, maxDocsPerFp)
      .where(col("shared") >= minShared)
  }

  /** The shared capped inverted-index pair join behind
    * [[minhashNearDups]]' bucket rule, [[winnowClonePairs]], and
    * [[containmentPairs]]: keys present in more than `maxPerKey` rows
    * are stopword-tier (no discriminative value, quadratic pair cost) —
    * their buckets are DROPPED whole, bounding the self-join at
    * maxPerKey² per key. Input: distinct (keyCol, idCol) rows.
    * Output: (a_id, b_id, shared) with a_id < b_id, `shared` counting
    * surviving common keys.
    */
  private def cappedPairJoin(keyed: DataFrame, keyCol: String,
      idCol: String, maxPerKey: Int): DataFrame = {
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    val capped = keyed.withColumn("__n", count(lit(1)).over(cw))
      .where(col("__n") <= maxPerKey)
      .drop("__n")
    val a = capped.select(col(keyCol), col(idCol).as("a_id"))
    val b = capped.select(col(keyCol), col(idCol).as("b_id"))
    a.join(b, Seq(keyCol)).where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("shared"))
  }

  /** Containment-scored near-dup pairs: for each candidate pair, the
    * ASYMMETRIC containment C(A→B) = |S(A) ∩ S(B)| / |S(A)| over distinct
    * k-token shingle sets — the measure that catches a short document
    * quoted whole inside a long one (containment ≈ 1 from the short side
    * while Jaccard ≈ |short|/|long| stays far below any dedup threshold;
    * Broder 1997 defines both, LSH-Ensemble searches by this one).
    *
    * Candidates are pairs sharing ≥ 1 surviving shingle (an inverted-
    * index join — a SUPERSET of every pair with containment ≥ threshold
    * over surviving shingles, so the verify step is exact, not
    * probabilistic). Shingles present in more than `maxDocsPerShingle`
    * documents are stopword-tier: their buckets are dropped whole (the
    * [[minhashNearDups]] cap rule), bounding the pair join at cap² per
    * shingle; set sizes count ALL distinct shingles so scores stay
    * interpretable. Output: (a_id, b_id, shared, c_ab, c_ba) for pairs
    * whose larger direction ≥ `threshold`, scores rounded.
    *
    * Scale: shingle hashes (8-byte keys, never text) through one
    * distinct, one windowed cap count, one hash-keyed self-join —
    * the minhash family's shuffle budget with an exact verdict.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8, maxDocsPerShingle: Int = 64,
      roundTo: Int = 4): DataFrame = {
    require(k >= 1 && threshold > 0 && maxDocsPerShingle >= 2)
    val tokenized = docs.select(col(idCol),
      TextOps.tokens(lower(col(textCol))).as("__toks"))
    val sh = TextOps
      .explodeShingleHashes(tokenized, "__toks", k, "__h", Seq(idCol))
      .distinct()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    cappedPairJoin(sh, "__h", idCol, maxDocsPerShingle)
      .join(sizes.select(col(idCol).as("a_id"), col("__sz").as("__sa")),
        Seq("a_id"))
      .join(sizes.select(col(idCol).as("b_id"), col("__sz").as("__sb")),
        Seq("b_id"))
      .where(greatest(col("shared") / col("__sa"),
        col("shared") / col("__sb")) >= threshold)
      .select(col("a_id"), col("b_id"), col("shared"),
        round(col("shared") / col("__sa"), roundTo).as("c_ab"),
        round(col("shared") / col("__sb"), roundTo).as("c_ba"))
  }
}
