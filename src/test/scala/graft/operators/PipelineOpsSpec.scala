package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sfDir)

  private def planted = {
    val mutated = docs
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" zz yy xx")))
    docs.unionByName(mutated)
  }

  test("exact dedup removes exact copies only") {
    val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 100000))
    assert(Dedup.exact(doubled, Seq("text")).count() == docs.count())
    assert(Dedup.exact(planted, Seq("text")).count() == 2 * docs.count())
  }

  test("minhash LSH recovers every planted near-dup pair") {
    val n = docs.count()
    val pairs = Dedup.minhashNearDups(planted, "doc_id", "text", 0.5)
      .where(col("b_id") === col("a_id") + 100000)
    assert(pairs.count() == n, s"expected $n planted pairs")
    // planted pairs differ by 3 trailing tokens → est jaccard well above 0.5
    val minEst = pairs.agg(min("est_jaccard")).head().getDouble(0)
    assert(minEst > 0.5, s"min est $minEst")
  }

  test("simhash banding finds exactly the planted pairs within the radius") {
    val n = docs.count()
    // ground truth: per-pair hamming via direct id join (no LSH involved)
    val sh = Dedup.simhash(planted, "doc_id", "text")
    val truth = sh.select(col("doc_id").as("a_id"), col("simhash").as("a_sh"))
      .join(sh.select((col("doc_id") - 100000).as("a_id"), col("simhash").as("b_sh")), "a_id")
      .where(bit_count(col("a_sh").bitwiseXOR(col("b_sh"))) <= 8)
      .count()
    val found = Dedup.simhashNearDups(planted, "doc_id", "text", 8)
      .where(col("b_id") === col("a_id") + 100000)
      .count()
    // pigeonhole guarantee: banded candidates cover EVERY pair within h=8
    assert(found == truth, s"banding found $found, ground truth $truth")
    // sanity: the 3-token mutation keeps most pairs within the radius
    assert(truth >= (n * 0.85).toLong, s"only $truth of $n planted pairs within h=8")
  }

  test("incremental dedup: exact copies die in stage 1, mutated in stage 2, fresh docs survive") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red green blue yellow purple orange")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),          // exact copy of 1
      (11L, "one two three four five six seven extra"),      // near-dup of 2
      (12L, "completely different content about planets here"), // fresh
      (13L, "moons orbit gas giants in the outer system")).toDF("doc_id", "text") // fresh
    // stage 1 alone: only the exact copy dies
    val ex = Dedup.dedupAgainst(batch, corpus, Seq("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ex == Set(11L, 12L, 13L), ex.toString)
    // stage 2: the near-dup pair is found with its corpus partner
    val near = Dedup.nearDupAgainst(batch.where(col("doc_id") =!= 10L), corpus,
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.map(_._1).toSet == Set(11L), near.mkString(", "))
    assert(near.map(_._2).toSet == Set(2L), near.mkString(", "))
    // composed: fresh docs only
    val out = Dedup.incrementalDedup(batch, corpus, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(12L, 13L), out.toString)
  }

  test("minhashPrecisionAudit: exact copies land in bucket 10, mutations lower") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),      // j = 1.0
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota"), // j = 6/7 vs 1/2
      (4L, "totally unrelated content with other words here"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashPrecisionAudit(docs, "doc_id", "text", 0.35)
      .orderBy("bucket").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(out.exists { case (b, _) => b == 10 }, s"exact pair missing: ${out.toSeq}")
    assert(out.map(_._2).sum >= 2, s"expected >= 2 audited pairs: ${out.toSeq}")
    assert(out.forall { case (b, _) => b >= 3 },
      s"no audited pair can sit below the 0.35 threshold decile: ${out.toSeq}")
  }

  test("bloom pre-filtered incremental dedup equals the exact anti-join") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red green blue yellow purple orange")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),  // exact copy of 1
      (11L, "red green blue yellow purple orange"),  // exact copy of 3
      (12L, "completely different content about planets here"),
      (13L, "moons orbit gas giants in the outer system")).toDF("doc_id", "text")
    val exact = Dedup.dedupAgainst(batch, corpus, Seq("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaBloom = Dedup.bloomDedupAgainst(batch, corpus, Seq("text"),
        mBits = 4096, seeds = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == exact, s"$viaBloom vs $exact")
    assert(viaBloom == Set(12L, 13L))
    // a saturated filter (every probe a false positive) still verifies
    // everything away exactly — output semantics never degrade
    val saturated = Dedup.bloomDedupAgainst(batch, corpus, Seq("text"),
        mBits = 64, seeds = 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(saturated == exact, s"saturated filter changed semantics: $saturated")
  }

  test("incremental dedup against the corpus fixture catches planted cross-dups") {
    val n = docs.count()
    val corpus = docs
    val batch = docs.where(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 500000)
      .withColumn("text", concat(col("text"), lit(" zz yy xx")))
      .unionByName(docs.where(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 600000))
    val out = Dedup.incrementalDedup(batch, corpus, "doc_id", "text", 0.35)
    // every planted row (mutated or exact) has a corpus partner → all die
    assert(out.count() == 0, s"expected all 25 planted rows dropped of $n corpus docs")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged by content") {
    import spark.implicits._
    val oldv = Seq((1L, "same text"), (2L, "will change"), (3L, "goes away"))
      .toDF("doc_id", "text")
    val newv = Seq((1L, "same text"), (2L, "has changed"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(oldv, newv, "doc_id", Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), out.toString)
  }

  test("keepBestNearDups keeps the longest member per cluster, singletons always") {
    import spark.implicits._
    val input = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // longer near-dup of 1
      (3L, "totally unrelated text about something else entirely"),
      (4L, "one two three four five six"),
      (5L, "one two three four five six")).toDF("doc_id", "text") // exact dup of 4, equal length
    val out = Dedup.keepBestNearDups(input, "doc_id", "text",
        length(col("text")), threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cluster {1,2} → 2 (longer); singleton 3 survives; {4,5} tie → min id 4
    assert(out == Set(2L, 3L, 4L), out.toString)
  }

  test("word-set jaccard pairs are symmetric-free and exact") {
    val pairs = Dedup.wordSetPairs(docs.where(col("doc_id") < 10), "doc_id", "text")
      .collect()
    assert(pairs.forall(r => r.getLong(1) > r.getLong(0))) // a_id < b_id once
    assert(pairs.forall(r => r.getLong(2) <= r.getLong(3))) // inter <= union
  }

  test("duplicated spans: planted repeats found, unique and short docs clean") {
    import spark.implicits._
    val boiler = (1 to 25).map(i => s"tok$i").mkString(" ") // 25 shared tokens
    val input = Seq(
      (1L, s"alpha beta $boiler gamma delta"),     // carries the repeat
      (2L, s"$boiler completely other trailing words here"), // carries it too
      (3L, (1 to 40).map(i => s"unique${i}x").mkString(" ")), // long, unique
      (4L, "way too short for any span")           // < spanTokens tokens
    ).toDF("doc_id", "text")
    val dup = Dedup.duplicateSpans(input, "doc_id", "text", spanTokens = 20)
      .collect()
    val byDoc = dup.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    // docs 1 and 2 share >= one full 20-token window of the boilerplate
    assert(byDoc.getOrElse(1L, 0) > 0, s"doc 1 clean: $byDoc")
    assert(byDoc.getOrElse(2L, 0) > 0, s"doc 2 clean: $byDoc")
    // the unique long doc and the short doc are untouched
    assert(!byDoc.contains(3L), byDoc.toString)
    assert(!byDoc.contains(4L), byDoc.toString)
    // every reported occurrence names a hash seen >= 2 times over >= 2 docs here
    assert(dup.forall(r => r.getLong(3) >= 2))
    // within-doc repetition is also a duplicate: one doc repeating its own span
    val selfRep = Seq((9L, (boiler + " ") * 2 + "tail words")).toDF("doc_id", "text")
    val selfDup = Dedup.duplicateSpans(selfRep, "doc_id", "text", 20).collect()
    assert(selfDup.nonEmpty, "within-doc repeat not flagged")
    assert(selfDup.forall(_.getLong(4) == 1L)) // docs=1, occurrences>=2
  }

  test("span trimming keeps the canonical occurrence and empties exact copies") {
    import spark.implicits._
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val input = Seq(
      (1L, body),                  // canonical (min id) — untouched
      (2L, body),                  // exact copy — every token covered, empties
      (3L, "short unique text")    // unaffected
    ).toDF("doc_id", "text")
    val out = Dedup.trimDuplicateSpans(input, "doc_id", "text", spanTokens = 20)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == body, "canonical doc was modified")
    assert(out(2L) == "", s"copy not emptied: '${out(2L).take(60)}'")
    assert(out(3L) == "short unique text")
    // within-doc repeat: the FIRST occurrence survives, the second is cut
    val rep = Seq((9L, (body + " ") * 2 + "tail")).toDF("doc_id", "text")
    val trimmed = Dedup.trimDuplicateSpans(rep, "doc_id", "text", 20)
      .collect().head.getString(1)
    assert(trimmed.startsWith(body), s"first occurrence damaged: ${trimmed.take(60)}")
    assert(trimmed.length < (body.length * 2), "second occurrence survived")
    assert(trimmed.endsWith("tail"))
  }

  test("span trim indexes align when text leads with a control char") {
    import spark.implicits._
    // " " is stripped by Java trim but is NOT regex-\s whitespace:
    // a trim-based tokenizer sees one fewer leading token than the isWs
    // span scanner and cuts windows one token off. The control char must
    // count as a token of its own in BOTH passes.
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val input = Seq(
      (1L, body),                    // canonical
      (2L, "\u0001 " + body)       // copy behind a control-char token
    ).toDF("doc_id", "text")
    val out = Dedup.trimDuplicateSpans(input, "doc_id", "text", spanTokens = 20)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == body, "canonical doc was modified")
    // doc 2's duplicated windows cover token indexes 1..30 (index 0 is the
    // control-char token, which survives); a trim-side tokenizer that
    // Java-trims the control char away shifts every index and leaves "w1"
    assert(out(2L) == "\u0001", s"misaligned trim: '${out(2L).take(60)}'")
  }

  test("winnowFingerprints: shared runs guaranteed, short docs empty, selections consistent") {
    import spark.implicits._
    val k = 3; val w = 4
    // docs 1 and 2 share an 8-token run (>= w+k-1 = 6): MUST share a fp.
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two $shared"),
      (2L, s"$shared nine ten"),
      (3L, "tiny doc here"), // 3 tokens -> 1 shingle < w windows -> empty
      (4L, "completely different words with nothing in common at all ok")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k, w)
      .as[(Long, Int, Long)].collect().toSeq
    val byDoc = fps.groupBy(_._1)
    assert(!byDoc.contains(3L), "sub-window doc must emit nothing")
    val f1 = byDoc(1L).map(_._3).toSet
    val f2 = byDoc(2L).map(_._3).toSet
    assert(f1.intersect(f2).nonEmpty, s"shared 8-token run produced no shared fp: $f1 / $f2")
    val f4 = byDoc(4L).map(_._3).toSet
    assert(f1.intersect(f4).isEmpty, "unrelated docs should not collide here")
    // each selected fp is the hash of the shingle at its position
    val toks1 = s"one two $shared".toLowerCase.split("\\s+")
    byDoc(1L).foreach { case (_, pos, fp) =>
      val gram = toks1.slice(pos, pos + k).mkString(" ")
      assert(fp == graft.functions.Sketches.hash60(gram),
        s"fp at pos $pos is not the shingle hash")
    }
    // density: at most one selection per window
    assert(byDoc(1L).size <= toks1.length - k + 1 - w + 1)
  }

  test("winnowClonePairs recovers planted copies; hot fingerprints dropped whole") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"$shared one two"),
      (2L, s"three four $shared"),   // shares the long run with 1
      (3L, "unrelated content entirely about other matters and topics here"),
      (4L, "more unrelated words that have no overlap with anything else")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowClonePairs(docs, "doc_id", "text",
        minShared = 2, maxDocsPerFp = 64)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)), pairs.toString)
    // cap = 2 with a fingerprint in 3 docs: that fp's bucket dies whole
    val tri = Seq(
      (1L, s"$shared one"), (2L, s"$shared two"), (3L, s"$shared three"))
      .toDF("doc_id", "text")
    val capped = Dedup.winnowClonePairs(tri, "doc_id", "text",
        minShared = 1, maxDocsPerFp = 2)
      .as[(Long, Long, Long)].collect().toSeq
    val uncapped = Dedup.winnowClonePairs(tri, "doc_id", "text",
        minShared = 1, maxDocsPerFp = 64)
      .as[(Long, Long, Long)].collect().toSeq
    assert(uncapped.size == 3, uncapped.toString) // all three pairs share fps
    assert(capped.map(_._3).sum < uncapped.map(_._3).sum,
      s"cap did not drop 3-doc fingerprints: $capped vs $uncapped")
  }

  test("containmentPairs: a quoted fragment scores 1.0 where Jaccard stays low") {
    import spark.implicits._
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val frag = "alpha beta gamma delta epsilon" // first 5 tokens quoted
    val docs = Seq((1L, long), (2L, frag),
      (3L, "unrelated words about entirely different topics here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.8)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    // |S(frag)| = 3 shingles, all inside the long doc (|S| = 18):
    // c_ba = 3/3 = 1.0, c_ab = 3/18 — Jaccard would be 3/18 = 0.167
    assert(got == Seq((1L, 2L, 3L, 0.1667, 1.0)), got.toString)
  }

  test("containmentPairs: stopword-tier shingles are dropped whole by the cap") {
    import spark.implicits._
    val common = "the quick brown" // one shingle shared by all three docs
    val docs = Seq((1L, s"$common one"), (2L, s"$common two"),
      (3L, s"$common three")).toDF("doc_id", "text")
    val uncapped = Dedup.containmentPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.4, maxDocsPerShingle = 64).count()
    val capped = Dedup.containmentPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.4, maxDocsPerShingle = 2).count()
    assert(uncapped == 3L, s"3-doc shingle should pair everyone: $uncapped")
    assert(capped == 0L, s"capped bucket must die whole: $capped")
  }

  test("containmentPairs equals the brute-force definition on random docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val k = 3; val cap = 8; val thr = 0.5
    val docs = (1L to 30L).map { i =>
      val len = 3 + rnd.nextInt(20)
      (i, Seq.fill(len)(s"w${rnd.nextInt(12)}").mkString(" "))
    }
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // brute reference: same hash, same cap rule, sizes over ALL shingles
    val sets = docs.map { case (id, t) =>
      id -> t.toLowerCase.split("\\s+").toSeq.sliding(k).filter(_.size == k)
        .map(g => graft.functions.Sketches.hash60(g.mkString(" "))).toSet
    }.toMap
    val dfreq = sets.values.flatten.groupBy(identity).map { case (h, o) => h -> o.size }
    val capped = sets.map { case (id, s) => id -> s.filter(dfreq(_) <= cap) }
    val expected = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      shared = capped(a).intersect(capped(b)).size
      if shared >= 1
      cab = shared.toDouble / sets(a).size
      cba = shared.toDouble / sets(b).size
      if math.max(cab, cba) >= thr
    } yield (a, b, shared.toLong, r4(cab), r4(cba))).toSet
    val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", k = k, threshold = thr, maxDocsPerShingle = cap)
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty, "degenerate test corpus: no pairs at all")
  }

  test("winnowFingerprints is shuffle-free") {
    val plan = Dedup.winnowFingerprints(
        Tables.documents(spark, sfDir), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"winnowing must stay map-side:\n${plan.take(2000)}")
  }
}

class SimilaritySpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sfDir)

  test("brute-force top-k is consistent with pairwise cosine ordering") {
    val topk = Similarity.topKCosine(emb, "vec_id", "embedding",
      emb.where(col("vec_id") < 3), 5).collect()
    assert(topk.length == 15)
    val byQuery = topk.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val cs = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, "ranks sorted by cos")
    }
  }

  test("multi-table LSH recovers planted high-similarity pairs") {
    val perturbed = emb
      .withColumn("vec_id", col("vec_id") + 100000)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + sin(i.cast("double") * 0.7) * 0.03).cast("float")))
    val n = emb.count()
    val found = Similarity.lshNearPairs(emb.unionByName(perturbed),
        "vec_id", "embedding", dim = 64, threshold = 0.9)
      .where(col("b_id") === col("a_id") + 100000)
      .count()
    assert(found >= (n * 0.9).toLong, s"LSH recall too low: $found of $n")
  }

  test("IVF probes recover most exact top-k neighbors") {
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.topKCosine(emb, "vec_id", "embedding", queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, 5,
        nlist = 16, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall@5 too low: $recall")
    // every IVF hit that IS in the exact set must carry the same cosine order
    assert(ivf.nonEmpty)
  }

  test("kmeans-refined centroids keep planted-source recall at tight probes") {
    // perturbed copies must still find their source with refined cells
    val queries = emb.where(col("vec_id") < 20)
      .withColumn("vec_id", col("vec_id") + 100000)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + sin(i.cast("double") * 1.3) * 0.01).cast("float")))
    val found = Similarity.ivfTopK(emb, "vec_id", "embedding", queries, 5,
        nlist = 16, nProbe = 3, refineIterations = 2)
      .where(col("neighbor_id") === col("query_id") - 100000)
      .count()
    assert(found >= 18, s"refined IVF lost planted sources: $found of 20")
  }

  test("blocked exact pairs match the expression-based brute force bit-for-bit") {
    val brute = Similarity.brutePairs(emb, "vec_id", "embedding", 0.42)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Similarity.exactPairsBlocked(emb, "vec_id", "embedding", 0.42, nBlocks = 4)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute, s"blocked=${blocked.size} brute=${brute.size}")
  }

  test("clusterSilhouette: hand-computed means, first-index tie, zero-distance 0") {
    import spark.implicits._
    val c0 = Array(0.0, 0.0); val c1 = Array(10.0, 0.0)
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)),   // on c0: a=0, b=100, s=1
      (2L, Array(1.0f, 0.0f)),   // a=1, b=81, s=80/81
      (3L, Array(10.0f, 0.0f)),  // on c1: s=1
      (4L, Array(5.0f, 0.0f)))   // equidistant (a=b=25) -> cell 0 (first
                                 // minimal index), s=0
      .toDF("id", "v")
    val got = Similarity.clusterSilhouette(vecs, "id", "v",
        Array(c0, c1))
      .as[(Int, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0) == ((3L, r4((1.0 + 80.0 / 81 + 0.0) / 3))), got.toString)
    assert(got(1) == ((1L, 1.0)), got.toString)
  }

  test("marginMining matches a hand brute-force reference and honors the threshold") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] =
      Array.tabulate(4)(j => (((seed * 7 + j * 3) % 11) - 5) / 5.0f + 1.2f)
    val a = (1 to 4).map(i => (i.toLong, 0, vec(i)))
    val b = (101 to 106).map(i => (i.toLong, 1, vec(i)))
    val corpus = (a ++ b).toDF("vec_id", "label", "embedding")
    val k = 2

    // reference: same double-fold cosine, same max strategy
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- x.indices) {
        val xi = x(i).toDouble; val yi = y(i).toDouble
        d += xi * yi; na += xi * xi; nb += yi * yi
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def topk(q: Array[Float], side: Seq[(Long, Int, Array[Float])]) =
      side.map(c => (c._1, cos(q, c._3)))
        .sortBy { case (id, c) => (-c, id) }.take(k)
    val fwd = a.map(x => x._1 -> topk(x._3, b)).toMap
    val denA = fwd.map { case (x, nn) => x -> nn.map(_._2).sum / k }
    val candIds = fwd.values.flatten.map(_._1).toSet
    val denB = candIds.map { y =>
      val yv = b.find(_._1 == y).get._3
      y -> topk(yv, a).map(_._2).sum / k
    }.toMap
    val expected = a.flatMap { x =>
      val scored = fwd(x._1).map { case (y, c) =>
        (y, c, r4(c / ((denA(x._1) + denB(y)) / 2))) }
      val best = scored.minBy { case (y, _, m) => (-m, y) }
      if (best._3 >= 0.9) Some((x._1, best._1, r4(best._2), best._3)) else None
    }.toSet

    val got = Similarity.marginMining(corpus, "vec_id", "embedding", "label",
        lit(0), lit(1), k = k, threshold = 0.9)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got == expected, s"got $got expected $expected")

    // a prohibitive threshold filters everything
    val none = Similarity.marginMining(corpus, "vec_id", "embedding", "label",
        lit(0), lit(1), k = k, threshold = 99.0).count()
    assert(none == 0L)
  }
}

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
