package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * score every corpus row, per-query window top-k. Scales linearly in the
  * corpus: one pass, no corpus self-join.
  *
  * Scale path: random-hyperplane LSH — 16 sign bits per vector form a
  * bucket; candidates only join within a bucket, so the pair space shrinks
  * ~2^16 for near-dup search. Multi-probe/repetition can be layered on by
  * unioning several independent bucket sets (seed parameter).
  */
object Similarity {

  /** Sum of squares / dot products as higher-order functions, computed in
    * double. HOF lambdas run INTERPRETED per element — these are the
    * reference semantics the specs pin [[graft.functions.VectorOps]]
    * against; the operators below score with the codegen'd
    * [[graft.functions.VectorOps.cosine]] expression (bit-identical, ~10×
    * cheaper per pair).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), _ + _)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosine(a, b)

  /** The interpreted fold form of [[cosine]] (spec oracle only). */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Shared scaffold for the exact search variants: broadcast the query
    * set against the corpus scan (map-side, no corpus shuffle), exclude
    * self-pairs, optionally carry a label column from both sides. One
    * definition so tie-break / broadcast-hint changes can't silently
    * diverge between top-k, range, and label-constrained search.
    */
  private def broadcastPairs(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, carryLabel: Option[String]): DataFrame = {
    val qCols = Seq(col(idCol).as("query_id"), col(vecCol).as("q_vec")) ++
      carryLabel.map(l => col(l).as("q_label"))
    val cCols = Seq(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")) ++
      carryLabel.map(l => col(l).as("c_label"))
    corpus.select(cCols: _*)
      .crossJoin(broadcast(queries.select(qCols: _*)))
      .where(col("neighbor_id") =!= col("query_id"))
  }

  /** Per-query top-k over scored (query_id, neighbor_id, cos) pairs; rank
    * ties broken by neighbor id for determinism.
    */
  private def perQueryTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Brute-force cosine top-k neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id, cos).
    */
  def topKCosine(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int): DataFrame =
    perQueryTopK(
      broadcastPairs(corpus, idCol, vecCol, queries, None)
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("q_vec"), col("c_vec")).as("cos")),
      k)

  /** Radius (range) search: every corpus vector with cosine ≥ `minCosine`
    * to each query — the "give me everything similar enough" companion to
    * top-k (dedup sweeps and contamination checks want a threshold, not a
    * rank). Queries broadcast, scoring map-side over the corpus scan: no
    * shuffle at all, output rows bounded by the threshold. Exact by
    * construction; the ANN paths (LSH/IVF) are the recall-traded variants.
    */
  def rangeSearch(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, minCosine: Double): DataFrame =
    broadcastPairs(corpus, idCol, vecCol, queries, None)
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
      .where(col("cos") >= minCosine)

  /** Per-group embedding centroids: the class/source mean vector, in
    * DOUBLE (derived vectors never round-trip through float). The
    * embedding-drift and class-separability audit primitive: centroid
    * movement between corpus versions and centroid-pair cosine
    * (`q_emb_centroid_sep`) tell a pipeline whether its label structure
    * survives a re-embed or a dedup pass.
    *
    * Scale shape: one partial-agg shuffle keyed on (group, dim) — the
    * shuffled volume is |groups|×dim partial sums per partition, not the
    * corpus — then a per-group reassembly of dim rows. Output is
    * |groups| rows.
    */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    df.select(col(groupCol).as("group"),
        posexplode(col(vecCol)).as(Seq("__pos", "__v")))
      .groupBy("group", "__pos")
      .agg(avg(col("__v").cast("double")).as("__c"), count(lit(1)).as("__n"))
      .groupBy("group")
      .agg(max("__n").as("n"),
        transform(array_sort(collect_list(struct(col("__pos"), col("__c")))),
          s => s.getField("__c")).as("centroid"))
  }

  /** Cluster-balanced sampling: assign every vector to its nearest
    * centroid ([[assignCells]] — one map-side UDF pass, centroids
    * broadcast) and keep at most `cap` rows per cluster by smallest id —
    * the topic-balancing idiom for training mixes (cap the over-represented
    * clusters instead of sampling the corpus uniformly). One shuffle on the
    * cell key; Spark ≥3.5 pushes a partial `WindowGroupLimit` below the
    * exchange, so hot cells cap map-side before shuffling.
    */
  def clusterBalance(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], cap: Int): DataFrame = {
    val w = Window.partitionBy(col("cell")).orderBy(col(idCol).asc)
    assignCells(corpus, idCol, vecCol, centroids)
      .select(col(idCol), col("cell"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Label-constrained top-k: each query's k most-similar corpus vectors
    * whose label differs from (`excludeSameLabel = true` — HARD-NEGATIVE
    * MINING for contrastive training: the closest wrong-label examples
    * are the informative negatives) or matches (`false` — positive-pair
    * mining) the query's own label. Same plan as [[topKCosine]]: queries
    * broadcast, map-side codegen'd cosine, per-query top-k window; the
    * label predicate filters BEFORE the window, so discarded pairs never
    * shuffle. At full corpus scale, feed the probed candidate slice of
    * [[ivfTopK]] as `corpus` instead of the whole table —
    * the constraint composes with any candidate generator.
    *
    * Output: (query_id, rank, neighbor_id, cos), rank ties broken by id.
    */
  def labelConstrainedTopK(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queries: DataFrame, k: Int,
      excludeSameLabel: Boolean): DataFrame = {
    val labelPred =
      if (excludeSameLabel) col("c_label") =!= col("q_label")
      else col("c_label") === col("q_label")
    perQueryTopK(
      broadcastPairs(corpus, idCol, vecCol, queries, Some(labelCol))
        .where(labelPred)
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("q_vec"), col("c_vec")).as("cos")),
      k)
  }

  /** Margin-based cross-group pair mining (Artetxe & Schwenk 2019 — the
    * LASER bitext-mining criterion): a pair (x ∈ A, y ∈ B) scores
    *
    *   margin(x, y) = cos(x, y) / ((avgNNk(x→B) + avgNNk(y→A)) / 2)
    *
    * — raw cosine normalized by both endpoints' local neighborhood
    * density, which kills the hub vectors that make absolute-threshold
    * mining precision-poor. Output: the best-margin y per x (the paper's
    * "max" strategy) where margin ≥ `threshold`, as
    * (a_id, b_id, cos, margin) with scores rounded.
    *
    * Scale shape: A is the bounded mining side (a query batch, a
    * low-resource language) and BROADCASTS — B only ever streams: the
    * forward top-k is one scan of B with A broadcast, and the reverse
    * neighborhoods are computed only for the ≤ |A|·k forward candidates
    * (their vectors re-joined from B by id, then A scans against that
    * broadcast candidate set). For A too big to broadcast, mine in
    * A-batches (the operator is per-x independent) or feed IVF/JL
    * candidates — the ANN family composes.
    *
    * CONTRACT: `idCol` must be unique ACROSS BOTH groups. The underlying
    * pair generator excludes same-id pairs (its self-join guard), so an
    * A-row and a B-row sharing one id value would silently never pair —
    * e.g. per-language corpora whose ids both start at 0 would bias
    * every margin. Prefix ids per group if the spaces can collide.
    */
  def marginMining(corpus: DataFrame, idCol: String, vecCol: String,
      groupCol: String, groupA: Column, groupB: Column, k: Int,
      threshold: Double, roundTo: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = corpus.where(col(groupCol) === groupA).select(col(idCol), col(vecCol))
    val b = corpus.where(col(groupCol) === groupB).select(col(idCol), col(vecCol))
    // forward: x's top-k in B, with the raw cosine kept for the margin.
    // Staged (bounded at |A|·k rows): it has three consumers below, and
    // a lazy frame would re-scan B once per consumer.
    val fwd = Staged.materialize(topKCosine(b, idCol, vecCol, a, k))
    val denA = fwd.groupBy("query_id").agg(avg(col("cos")).as("__da"))
    // reverse neighborhoods, only for forward candidates (bounded set)
    val candB = b.join(fwd.select(col("neighbor_id").as(idCol)).distinct(),
      Seq(idCol))
    val denB = topKCosine(a, idCol, vecCol, candB, k)
      .groupBy("query_id").agg(avg(col("cos")).as("__db"))
      .withColumnRenamed("query_id", "neighbor_id")
    // rank and threshold on the ROUNDED margin (the q_emb_outliers rule):
    // avg-fold order differs across engines in the last ulp, and the
    // selection must not hinge on it
    val scored = fwd
      .join(denA, Seq("query_id"))
      .join(denB, Seq("neighbor_id"))
      .withColumn("__margin",
        round(col("cos") / ((col("__da") + col("__db")) / 2), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__margin").desc, col("neighbor_id").asc)
    scored.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1 && col("__margin") >= threshold)
      .select(col("query_id").as("a_id"), col("neighbor_id").as("b_id"),
        round(col("cos"), roundTo).as("cos"), col("__margin").as("margin"))
  }

  /** Deterministic random hyperplanes (fixed seed) for sign-bit LSH. */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 7L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** All `tables` bucket ids in one pass: a single UDF evaluation per row
    * with tight primitive loops over the broadcast plane matrix. A
    * Column-expression form (one `dot` sign bit per plane) evaluates
    * bits×tables higher-order-function aggregates per row — HOF lambdas
    * run interpreted per element, which made bucketing the dominant cost.
    */
  private def allBuckets(dim: Int, bits: Int, tables: Int) = {
    val planes: Array[Array[Array[Double]]] =
      Array.tabulate(tables)(t => hyperplanes(dim, bits, seed = 7L + t))
    udf { (vec: Seq[Float]) =>
      val v = vec.toArray
      Array.tabulate(tables) { t =>
        var bucket = 0L
        var b = 0
        while (b < bits) {
          val p = planes(t)(b)
          var s = 0.0
          var i = 0
          while (i < v.length && i < p.length) { s += v(i) * p(i); i += 1 }
          if (s > 0) bucket |= 1L << b
          b += 1
        }
        bucket
      }
    }
  }

  /** Approximate near-neighbor pairs: candidates share a sign-bit bucket in
    * at least one of `tables` independent hashings (multi-table LSH — a
    * single table's recall at moderate similarity is near zero), then exact
    * cosine verification against the threshold. Recall for similarity s:
    * 1 - (1 - (1 - acos(s)/pi)^bits)^tables.
    *
    * `bits = 0` (the default) auto-sizes the bucket width to the corpus:
    * 2^bits ≈ n / targetPerBucket, floor 12, cap 48. Fixed-width LSH has a
    * quadratic scale cliff — bucket DENSITY grows linearly with n, so
    * candidate pairs grow as n² (measured: the q_ann_lsh gate at 12 bits
    * ran 2.9 s at sf1 and 100 s at sf10 — 34× per 10× data). Holding
    * density constant keeps candidates O(n·tables·targetPerBucket); the
    * price is threshold-recall per the formula above (each added bit
    * multiplies a table's recall by p = 1 − acos(s)/π), so recall-critical
    * deployments at a FIXED corpus size should pin `bits`/`tables`
    * explicitly — and stores that persist bucket ids across runs MUST.
    */
  def lshNearPairs(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, bits: Int = 0, tables: Int = 4,
      maxBucket: Int = 10000, targetPerBucket: Int = 8): DataFrame = {
    // vectors and bucket assignments are each consumed more than once
    // (skew guard + self-join; verification joins) — persist both so the
    // bucket UDF runs ONCE per row and the 256-byte vector payload never
    // rides the ×tables explode shuffle: banding ships (id, table, bucket)
    // only, vectors join back for surviving candidates (the minhash
    // ids-only banding shape). The verified-pair RESULT (bounded by true
    // near-neighbors) is staged and both caches released before returning
    // — no resident blocks survive the call.
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v")).persist(mem)
    val effBits =
      if (bits > 0) bits
      else {
        val n = vecs.count() // cheap: first materialization of the cache
        val want = math.max(1L, n / math.max(1, targetPerBucket))
        math.min(48, math.max(12,
          64 - java.lang.Long.numberOfLeadingZeros(want - 1)))
      }
    val bucketed0 = vecs
      .select(col("id"), posexplode(allBuckets(dim, effBits, tables)(col("v")))
        .as(Seq("table", "bucket")))
      .persist(mem)
    try {
      // degenerate-bucket skew guard (e.g. zero vectors all land in bucket 0):
      // a bucket larger than maxBucket fans out quadratically — drop it before
      // the self-join; at that density its members are not meaningful neighbors
      val ok = bucketed0.groupBy(col("table"), col("bucket"))
        .agg(count(lit(1)).as("__n")).where(col("__n") <= maxBucket)
        .select("table", "bucket")
      val bucketed = bucketed0.join(ok, Seq("table", "bucket"))
      val a = bucketed.select(col("id").as("a_id"), col("table"), col("bucket"))
      val b = bucketed.select(col("id").as("b_id"), col("table"), col("bucket"))
      Staged.materialize(
        a.join(b, Seq("table", "bucket"))
          .where(col("a_id") < col("b_id"))
          .dropDuplicates("a_id", "b_id")
          .join(vecs.select(col("id").as("a_id"), col("v").as("a_v")), Seq("a_id"))
          .join(vecs.select(col("id").as("b_id"), col("v").as("b_v")), Seq("b_id"))
          .select(col("a_id"), col("b_id"), cosine(col("a_v"), col("b_v")).as("cos"))
          .where(col("cos") >= threshold))
    } finally {
      bucketed0.unpersist(false)
      vecs.unpersist(false)
    }
  }

  // ---- IVF (inverted-file) ANN -------------------------------------------

  /** Deterministic coarse centroids: an id-hash sample of the corpus,
    * collected to the driver (nlist × dim floats — a few hundred KB at
    * production sizes; kmeans refinement can replace the sample without
    * changing the search shape).
    */
  private def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): Array[Array[Double]] =
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("__h", xxhash64(col("id")))
      .orderBy("__h").limit(nlist)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)

  /** Lloyd refinement of the sampled centroids: `iterations` rounds of
    * assign (one UDF pass) + per-cell mean (sum/count aggregated as
    * columns — one shuffle of nlist×dim doubles per round). Deterministic;
    * empty cells keep their previous centroid. Improves cell balance over
    * the raw sample when the corpus is clustered; on near-uniform data it
    * converges to a centroidal tessellation with mildly better probe
    * recall.
    */
  private def refineCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], iterations: Int): Array[Array[Double]] = {
    var cents = centroids
    val dim = centroids.headOption.map(_.length).getOrElse(0)
    (0 until iterations).foreach { _ =>
      val assigned = corpus.select(col(vecCol).as("v"))
        .withColumn("cell", element_at(nearestCells(cents, 1)(col("v")), 1))
      val sums = assigned.groupBy("cell").agg(
        count(lit(1)).as("n"),
        array((0 until dim).map(i =>
          sum(element_at(col("v"), i + 1).cast("double"))): _*).as("sums"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val cell = r.getInt(0)
        val n = r.getLong(1).toDouble
        val s = r.getSeq[Double](2)
        if (n > 0) next(cell) = s.map(_ / n).toArray
      }
      cents = next
    }
    cents
  }

  /** `nProbe` nearest centroids by squared L2, one UDF evaluation per row
    * with primitive loops (nlist HOF-aggregate expressions per row run
    * interpreted and dominate otherwise). nProbe = 1 gives the assignment.
    */
  private def nearestCells(centroids: Array[Array[Double]], nProbe: Int) =
    udf { (vec: Seq[Float]) =>
      val v = vec.toArray
      val dists = Array.tabulate(centroids.length) { c =>
        val cent = centroids(c)
        var s = 0.0
        var i = 0
        while (i < v.length && i < cent.length) {
          val d = v(i) - cent(i)
          s += d * d
          i += 1
        }
        s
      }
      dists.zipWithIndex.sortBy(_._1).take(nProbe).map(_._2)
    }

  /** Nearest-centroid cell assignment — the k-means assignment step and
    * the IVF inverted-file build as a standalone operator (in production
    * the cell id is precomputed and stored as a partition key). One UDF
    * pass over the corpus, squared-L2 in double; centroids are
    * caller-provided so the assignment is deterministic and cross-engine
    * checkable (squared L2 is argmin-equivalent to DuckDB's euclidean
    * `list_distance`).
    */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    corpus.withColumn("cell",
      element_at(nearestCells(centroids, 1)(col(vecCol)), 1))

  /** Per-query probe cells: one row per (query, probed cell) — the IVF
    * probe fan-out as a standalone frame (`ivfTopK` uses it).
    */
  private def probeCells(queries: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], nProbe: Int): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("probes", nearestCells(centroids, nProbe)(col("q_vec")))
      .select(col("query_id"), col("q_vec"), explode(col("probes")).as("cell"))

  /** Per-cluster simplified silhouette: for each vector, a = squared L2
    * distance to its OWN centroid, b = the minimum over the other
    * centroids, s = (b − a)/max(a, b) ∈ [−1, 1] — the standard
    * clustering-quality audit in its centroid form (exact silhouette
    * needs all pairwise distances; the centroid form is the one that
    * scales, and the one k-means quality dashboards actually plot).
    * Output: (cell, n, mean_sil rounded). A vector equidistant at 0
    * from every centroid scores 0.
    *
    * Scale: centroids ship as a literal (nlist×dim doubles), distances
    * are codegen'd higher-order folds per row — map-side everything,
    * then one bounded groupBy(cell). No UDF, no shuffle of vectors.
    */
  def clusterSilhouette(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], roundTo: Int = 4): DataFrame = {
    require(centroids.length >= 2, "need at least two centroids")
    val cents = typedLit(centroids.map(_.toSeq).toSeq)
    // cell derives from the SAME folded distances used for a and b
    // (array_position = first minimal index, the lower-index tie rule) —
    // one distance computation, and no chance of the assignment
    // disagreeing with the silhouette's own arithmetic in a tie
    val withD = corpus.select(col(idCol), col(vecCol))
      .withColumn("__d", transform(cents, c =>
        aggregate(zip_with(col(vecCol), c,
          (x, ci) => (x.cast("double") - ci) * (x.cast("double") - ci)),
          lit(0.0), _ + _)))
      .withColumn("cell",
        (array_position(col("__d"), array_min(col("__d"))) - 1).cast("int"))
    val a = element_at(col("__d"), col("cell") + 1)
    val b = array_min(zip_with(col("__d"),
      sequence(lit(0), lit(centroids.length - 1)),
      (d, i) => when(i === col("cell"), lit(Double.PositiveInfinity))
        .otherwise(d)))
    withD
      .withColumn("__s",
        when(greatest(a, b) > 0, (b - a) / greatest(a, b)).otherwise(lit(0.0)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), round(avg(col("__s")), roundTo).as("mean_sil"))
  }

  /** Semantic near-duplicate pairs, SemDeDup-style: assign every vector to
    * its nearest coarse cell, then search for cosine >= `threshold` pairs
    * ONLY within a cell. Cluster-then-dedup turns the O(n²) all-pairs
    * problem into per-cell blocks of O((n/nlist)²) — the semantic-dedup
    * recipe for web-scale corpora (pairs whose members land in different
    * cells are missed; that is the documented recall trade, tuned by
    * nlist). The within-cell join keys on the cell id, so candidates
    * co-locate in one shuffle; cells larger than `maxCell` are dropped
    * before the self-join (same degenerate-bucket guard as the LSH
    * dedups).
    *
    * The default `maxCell` derives from a per-cell PAIR budget: a cell of
    * n rows self-joins into n(n-1)/2 cosine evaluations, so the cap is
    * the largest n whose pair count stays under ~2M — a bounded task, not
    * a 10^10-pair straggler, no matter how degenerate the hot cell.
    * Callers whose recall contract needs every cell searched (and who
    * know their cell-size distribution) pass an explicit cap.
    *
    * NOTE (round-7 default change): the default cap dropped from 100000
    * to maxCellForPairBudget(2M) ≈ 2000 — a cell of 2001..100000 rows is
    * now DROPPED by default where it was previously searched. That is
    * deliberate (the old default let one hot cell run 10^10 cosine
    * pairs), but it is a silent recall change for default-arg callers:
    * audit call sites and pass an explicit `maxCell` where full-cell
    * search is part of the contract (the q_semantic_dedup gate does).
    */
  val DefaultCellPairBudget: Long = 2L * 1000 * 1000

  /** Largest cell size whose self-join stays within `pairBudget` pairs. */
  def maxCellForPairBudget(pairBudget: Long): Int =
    math.floor((1.0 + math.sqrt(1.0 + 8.0 * pairBudget)) / 2.0).toInt

  def semanticNearDups(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double,
      maxCell: Int = maxCellForPairBudget(DefaultCellPairBudget)): DataFrame = {
    val cells = assignCells(corpus, idCol, vecCol, centroids)
      .select(col(idCol), col(vecCol), col("cell"))
    // cell ids are bounded by the centroid count, so per-cell sizes are a
    // driver-sized aggregate (≤ nlist rows). ONE pass serves both the
    // skew cap (hot cells filtered map-side by id — no corpus-wide window
    // shuffle) and the no-silent-caps warning: dropped cells are logged
    // on every call, so default-arg callers see the recall trade at
    // runtime instead of in a comment.
    val hot = cells.groupBy("cell").agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxCell).select("cell")
      .collect().map(_.getInt(0))
    if (hot.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"semanticNearDups: ${hot.length} cell(s) exceed maxCell=$maxCell " +
          "and are DROPPED from the pair search (pair-budget skew cap); " +
          "pass a larger explicit maxCell to search them")
    val capped =
      if (hot.isEmpty) cells
      else cells.where(!col("cell").isin(hot.map(Integer.valueOf).toSeq: _*))
    val a = capped.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"), col("cell"))
    val b = capped.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"), col("cell"))
    a.join(b, Seq("cell"))
      .where(col("a_id") < col("b_id"))
      .select(col("cell"), col("a_id"), col("b_id"),
        cosine(col("a_vec"), col("b_vec")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** IVF top-k: corpus rows are assigned to their nearest of `nlist`
    * coarse cells ONCE (the inverted file — in production this assignment
    * is precomputed and stored as a column / partition key); each query
    * searches only its `nProbe` nearest cells. Work per query drops from
    * O(n) to O(n·nProbe/nlist) at the cost of recall, the standard IVF
    * trade (tune nlist ≈ sqrt(n), nProbe for target recall).
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, nlist: Int = 64, nProbe: Int = 8,
      refineIterations: Int = 0): DataFrame = {
    val sampled = ivfCentroids(corpus, idCol, vecCol, nlist)
    val centroids =
      if (refineIterations > 0)
        refineCentroids(corpus, idCol, vecCol, sampled, refineIterations)
      else sampled
    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("cell", element_at(nearestCells(centroids, 1)(col("c_vec")), 1))

    // per-query probe cells: nProbe nearest centroids
    val q = probeCells(queries, idCol, vecCol, centroids, nProbe)

    val scored = assigned.join(broadcast(q), "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** JL-compressed ANN: generate candidates with IVF in a
    * [[Projection]]-reduced space (`outDim` ≪ the raw dimension — every
    * distance in the candidate stage costs outDim/inDim of the raw
    * compare, and the index holds small vectors), then re-rank ONLY the
    * ≤ queries×candK survivors with the exact cosine on the ORIGINAL
    * vectors — the standard reduce-index-rerank composition for wide
    * embeddings. Candidate ids broadcast; the full-width corpus is
    * probed by broadcast join, never scanned for scoring.
    */
  def jlRerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int, inDim: Int, outDim: Int, candK: Int,
      nlist: Int = 64, nProbe: Int = 8): DataFrame = {
    require(candK >= k, s"candK $candK must be >= k $k")
    def reduced(df: DataFrame) =
      Projection.reduce(df.select(col(idCol), col(vecCol)), vecCol, inDim, outDim)
        .withColumn(vecCol, col(vecCol).cast("array<float>"))
    val cands = ivfTopK(reduced(corpus), idCol, vecCol, reduced(queries),
        candK, nlist, nProbe)
      .select("query_id", "neighbor_id")
    val emb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = emb.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("cos"))
    perQueryTopK(scored, k)
  }

  /** Exact cosine pairs over the full corpus (for verification / small n —
    * O(n²), do not run on the full 100 TB corpus). Reference semantics for
    * [[exactPairsBlocked]]; kept for specs only.
    */
  def brutePairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = corpus.select(col(idCol).as("a_id"), col(vecCol).as("a_v"))
    val b = corpus.select(col(idCol).as("b_id"), col(vecCol).as("b_v"))
    a.crossJoin(b).where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosine(col("a_v"), col("b_v")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Exact cosine pairs via block-tiled matrix products — the distributed
    * GEMM shape: vectors are hash-assigned to `nBlocks` blocks, blocks are
    * packed one-row-per-block, and each of the nBlocks·(nBlocks+1)/2 block
    * pairs computes its tile of dot products in a tight primitive-array
    * loop (one task per tile, no per-pair Catalyst expression overhead).
    *
    * Exactness contract: accumulation order and double arithmetic are
    * identical to [[cosine]]'s sequential fold, so results hash-match the
    * expression-based [[brutePairs]] bit-for-bit.
    *
    * Scale: work is inherently O(n²·d) FLOPs for EXACT all-pairs (use
    * [[lshNearPairs]] as the approximate path when n is web-scale); this
    * operator makes the constant the hardware FLOP rate instead of the
    * expression-interpreter rate, and shuffles each block only nBlocks
    * times. Size nBlocks ≈ n·d·4B / 64MB so a tile pair fits comfortably
    * in executor memory.
    */
  def exactPairsBlocked(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nBlocks: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val packed = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(nBlocks)).cast("int"))
      .groupBy("blk")
      .agg(collect_list(struct(col("id"), col("v"))).as("rows"))

    // joined row layout: (a.blk, a.rows, b.blk, b.rows)
    def unpack(r: org.apache.spark.sql.Row, idx: Int): (Array[Long], Array[Array[Float]], Array[Double]) = {
      val rows = r.getSeq[org.apache.spark.sql.Row](idx)
      val ids = new Array[Long](rows.size)
      val vecs = new Array[Array[Float]](rows.size)
      val norms = new Array[Double](rows.size)
      var i = 0
      rows.foreach { rr =>
        ids(i) = rr.getLong(0)
        val v = rr.getSeq[Float](1).toArray
        vecs(i) = v
        var s = 0.0
        var j = 0
        while (j < v.length) { s += v(j).toDouble * v(j).toDouble; j += 1 }
        norms(i) = math.sqrt(s)
        i += 1
      }
      (ids, vecs, norms)
    }

    packed.as("a").join(packed.as("b"), col("a.blk") <= col("b.blk"))
      .flatMap { row =>
        val sameBlock = row.getInt(0) == row.getInt(2)
        val (aIds, aVecs, aNorms) = unpack(row, 1)
        val (bIds, bVecs, bNorms) = unpack(row, 3)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < aIds.length) {
          val av = aVecs(i)
          var j = if (sameBlock) i + 1 else 0
          while (j < bIds.length) {
            if (aIds(i) != bIds(j)) {
              val bv = bVecs(j)
              var dot = 0.0
              var k = 0
              while (k < av.length) { dot += av(k).toDouble * bv(k).toDouble; k += 1 }
              val cos = dot / (aNorms(i) * bNorms(j))
              if (cos >= threshold) {
                val (lo, hi) = if (aIds(i) < bIds(j)) (aIds(i), bIds(j)) else (bIds(j), aIds(i))
                out += ((lo, hi, cos))
              }
            }
            j += 1
          }
          i += 1
        }
        out
      }
      .toDF("a_id", "b_id", "cos")
  }

  /** Greedy farthest-point (k-center) selection — the coreset / diversity
    * subset pick: start from the smallest id, then `k−1` times add the
    * point whose cosine distance to its NEAREST already-selected center
    * is largest (ties → smallest id). Returns one row per pick:
    * (pick_order 1-based, id, radius), where radius is the selected
    * point's distance at selection time — the classic 2-approximation
    * coverage radius sequence, non-increasing.
    *
    * Scale shape: the selected set is the ONLY driver-side state (k
    * centers, k ≪ corpus by contract); each step is one distributed pass
    * — centers inlined as literals, codegen'd cosine per row, argmax via
    * `orderBy.limit(1)` = TakeOrderedAndProject (per-partition 1-row
    * heaps, no global sort). Total cost k scans, the textbook
    * distributed greedy k-center. The min-distance fold uses
    * `1 − greatest(cos…)`, which equals min(1−cos) exactly (1−x is
    * monotone, so the identity survives FP rounding) — keeping the
    * DuckDB oracle's MIN(1−cos) form bit-compatible.
    */
  def kCenterSelect(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val seed = corpus.orderBy(col(idCol).asc).limit(1)
      .select(col(idCol).cast("long"), col(vecCol)).collect()(0)
    var picked = Vector[(Long, Seq[Float], Option[Double])](
      (seed.getLong(0), seed.getSeq[Float](1), None))
    while (picked.size < k) {
      val maxCos = picked.map(p =>
          cosine(col(vecCol), typedlit(p._2))).reduce(greatest(_, _))
      val next = corpus
        .where(!col(idCol).isin(picked.map(_._1): _*))
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
          (lit(1.0) - maxCos).as("d"))
        .orderBy(col("d").desc, col("id").asc)
        .limit(1).collect()(0)
      picked :+= ((next.getLong(0), next.getSeq[Float](1),
        Some(next.getDouble(2))))
    }
    picked.zipWithIndex
      .map { case ((id, _, r), i) => (i + 1, id, r) }
      .toDF("pick_order", "id", "radius")
  }

  /** Embedding outlier detection: the `k` vectors per group LEAST cosine-
    * similar to their own group centroid — the mislabel/noise review
    * queue of an embedded corpus (a point far from its class mean is a
    * labeling error, an encoder glitch, or genuinely hard; all three are
    * what curation wants surfaced before training).
    *
    * Plan: one (group, dim)-keyed partial agg builds the centroids
    * ([[groupCentroids]] — #groups×dim rows, never corpus-sized), joined
    * back broadcast, cosine is the codegen'd sequential-fold double
    * ([[graft.functions.VectorOps.cosineDouble]]), and the bottom-k is a
    * per-group window whose partial `WindowGroupLimit` trims map-side
    * before the single shuffle on the group key. Ranking uses the ROUNDED
    * score with the id tiebreak so the order is engine-independent.
    *
    * Output: (group, rank, id, cos) — rank 1 is the farthest-out vector.
    */
  def embeddingOutliers(df: DataFrame, idCol: String, groupCol: String,
      vecCol: String, k: Int, roundTo: Int = 4): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val cen = groupCentroids(df, groupCol, vecCol)
      .select(col("group"), col("centroid"))
    val scored = df
      .join(broadcast(cen), col(groupCol) === col("group"))
      .select(col("group"), col(idCol),
        round(graft.functions.VectorOps.cosineDouble(
          col(vecCol).cast("array<double>"), col("centroid")), roundTo).as("cos"))
    val w = Window.partitionBy("group").orderBy(col("cos").asc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("group"), col("rank"), col(idCol), col("cos"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998): from each query's candidate pool, greedily pick `k` items
    * maximizing `λ·rel − (1−λ)·max-cosine-to-already-picked` — the
    * anti-redundancy reranker for retrieved training contexts (a RAG
    * batch of near-identical passages wastes the context window; MMR
    * keeps the relevant AND mutually distinct ones). The first pick is
    * pure relevance.
    *
    * `candidates`: (query_id, neighbor_id: long, cos, c_vec) — any
    * generator output (brute-force top-N, IVF, LSH) with the candidate
    * vectors attached. Selection happens per query over its ≤N pool:
    * candidates gather into one array per query and a deterministic
    * greedy loop runs MAP-SIDE inside the row — O(k·N·dim) per query,
    * distributed across queries, never on the driver. All comparisons
    * use the score ROUNDED to `roundTo` decimals with the smaller-id
    * tiebreak (the [[embeddingOutliers]] engine-independence rule);
    * pairwise cosine replays [[graft.functions.VectorOps]]'s exact
    * left-to-right double fold.
    *
    * Output: (query_id, sel_rank 1..k, neighbor_id, score) — score is
    * the rounded selection objective (rank 1: relevance; else the MMR
    * margin, which can go negative when the pool is redundant).
    */
  def mmrRerank(candidates: DataFrame, k: Int, lambda: Double,
      roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(lambda >= 0 && lambda <= 1, s"lambda $lambda must be in [0,1]")
    def r(x: Double, s: Int): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
    def cosd(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val greedy = udf { cands: Seq[org.apache.spark.sql.Row] =>
      val ids = cands.map(_.getLong(0)).toArray
      val rel = cands.map(_.getDouble(1)).toArray
      val vecs = cands.map(_.getSeq[Float](2).map(_.toDouble).toArray).toArray
      val n = ids.length
      val used = new Array[Boolean](n)
      val out = Seq.newBuilder[(Int, Long, Double)]
      var rank = 1
      while (rank <= math.min(k, n)) {
        var best = -1; var bestScore = 0.0
        var i = 0
        while (i < n) {
          if (!used(i)) {
            val score =
              if (rank == 1) r(rel(i), roundTo)
              else {
                var ms = -1.0
                var j = 0
                while (j < n) {
                  if (used(j)) {
                    val c = cosd(vecs(i), vecs(j)); if (c > ms) ms = c
                  }
                  j += 1
                }
                r(lambda * rel(i) - (1 - lambda) * ms, roundTo)
              }
            if (best < 0 || score > bestScore ||
                (score == bestScore && ids(i) < ids(best))) {
              best = i; bestScore = score
            }
          }
          i += 1
        }
        out += ((rank, ids(best), bestScore)); used(best) = true; rank += 1
      }
      out.result()
    }
    candidates
      .groupBy("query_id")
      .agg(collect_list(struct(col("neighbor_id").cast("long"), col("cos"),
        col("c_vec"))).as("__cand"))
      .select(col("query_id"), explode(greedy(col("__cand"))).as("__sel"))
      .select(col("query_id"), col("__sel._1").as("sel_rank"),
        col("__sel._2").as("neighbor_id"), col("__sel._3").as("score"))
  }

  /** [[mmrRerank]] wired to the brute-force generator: per-query top-`n`
    * by cosine ([[topKCosine]] — queries broadcast, no corpus shuffle),
    * candidate vectors re-fetched by a broadcast semi-join against a
    * second corpus scan (NOT carried through the top-k window sort — the
    * window's sort payload stays id+score wide regardless of dim), then
    * the map-side greedy. At 100 TB swap the generator for the IVF index
    * path and feed [[mmrRerank]] directly.
    */
  def mmrSelect(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, n: Int, k: Int, lambda: Double): DataFrame = {
    val topn = topKCosine(corpus, idCol, vecCol, queries, n)
    val vecs = corpus
      .join(broadcast(topn.select(col("neighbor_id").as("__vid")).distinct()),
        col(idCol) === col("__vid"))
      .select(col("__vid"), col(vecCol).as("c_vec"))
    mmrRerank(
      topn.join(broadcast(vecs), col("neighbor_id") === col("__vid"))
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("c_vec")),
      k, lambda)
  }
}
