package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The right baseline, and at
  *    scale still the right tool for a *bounded* query set (broadcast the
  *    queries, one scan of the corpus, partial top-k per partition via
  *    window over the query id).
  *  - [[lshTopK]]: random-hyperplane LSH — corpus and queries are
  *    bucketed by sign-pattern; candidates come from an equi-join on the
  *    bucket key, so the 100 TB corpus is never cross-joined. Recall is
  *    tunable via number of planes / tables (probe cost vs recall).
  *
  * All vector math is `zip_with`/`aggregate` column expressions (computed
  * in double, codegen'd) — no UDF boundary.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, x) => s + x)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (s, x) => s + x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Helper columns the search functions below add to their inputs. */
  private val Helpers = Seq("__cnorm", "__qnorm", "__bnorm", "__cid")

  /** Exact top-k neighbors for each query vector.
    *
    * @param queries (qid, qvec) — expected small relative to corpus; it
    *                is broadcast so the corpus scan is shuffle-free until
    *                the final per-query top-k window.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      qidCol: String = "qid", qvecCol: String = "qvec",
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    // excludeSelf assumes qids ARE corpus ids (the self-search case);
    // pass false when query ids come from a different id space, or a
    // numeric collision would silently drop a legitimate neighbor
    //
    // Norms are precomputed ONCE PER SIDE (guide §4 — expression work in
    // the hot path): cosine() inside the pair loop recomputes BOTH
    // norms per candidate pair, tripling the crossJoin's per-pair
    // arithmetic (3 × dim multiply-adds instead of 1). The division
    // below is the same expression tree (dot / (norm(q) · norm(c))), so
    // every sim is bit-identical — the norm is just evaluated corpus-
    // rows + query-rows times instead of corpus × queries times.
    HelperCols.requireAbsent("bruteForceTopK", Helpers, queries, corpus)
    val paired = corpus.withColumn("__cnorm", norm(col(vecCol)))
      .crossJoin(broadcast(queries.withColumn("__qnorm", norm(col(qvecCol)))))
    val scored = (if (excludeSelf) paired.filter(col(qidCol) =!= col(idCol)) else paired)
      .withColumn("sim",
        dot(col(qvecCol), col(vecCol)) / (col("__qnorm") * col("__cnorm")))
    rankTopK(scored, k, qidCol, idCol)
  }

  /** EXACT embedding-side incremental near-dup: every (batch, corpus)
    * pair with cosine >= `threshold` — the embedding twin of
    * [[graft.operators.Dedup.minhashPairsAgainst]], for the NRT gate
    * question "is this incoming vector a near-copy of anything
    * ingested?". The batch broadcasts, so the cost is one shuffle-free
    * corpus scan per cycle (O(batch × corpus) multiply-adds — the
    * honest exact path; [[ivfTopK]]/[[graft.pipeline.AnnIndexStore]]
    * are the sublinear approximate path).
    */
  def cosineNearDupAgainst(
      batch: DataFrame, corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // per-side norm precompute — same rationale (and same bit-identical
    // expression shape) as bruteForceTopK
    HelperCols.requireAbsent("cosineNearDupAgainst", Helpers, batch, corpus)
    val b = broadcast(batch.select(
      col(idCol).as("batch_id"), col(vecCol).as("__bvec"),
      norm(col(vecCol)).as("__bnorm")))
    corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cvec"),
        norm(col(vecCol)).as("__cnorm"))
      .crossJoin(b)
      .filter(dot(col("__bvec"), col("__cvec")) /
        (col("__bnorm") * col("__cnorm")) >= threshold)
      .select("batch_id", "corpus_id")
  }

  /** Deterministic random hyperplanes (fixed seed → reproducible plans). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-pattern bucket key for one vector against the planes. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(vec, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Multi-probe bucket list for a QUERY vector: its own bucket plus the
    * `probes` Hamming-adjacent buckets most likely to hold missed
    * neighbors — ranked by hyperplane margin (a neighbor lands across a
    * plane the query is CLOSE to; flipping the smallest-|dot| bits first
    * is the classic multi-probe LSH order, Lv et al. VLDB'07). Candidate
    * probes are all 1-bit flips and all 2-bit flip pairs (margin sum);
    * everything is codegen'd Column algebra — margins, sort, XOR — and
    * only the broadcast query side grows: the corpus keeps ONE bucket
    * per table and is still scanned exactly once.
    */
  def lshQueryBuckets(vec: Column, planes: Seq[Seq[Double]], probes: Int): Column = {
    val base = lshBucket(vec, planes)
    if (probes <= 0) return array(base)
    val margins: Seq[(Column, Int)] = planes.zipWithIndex.map { case (p, i) =>
      (abs(dot(vec, array(p.map(lit): _*))), i)
    }
    val singles = margins.map { case (m, i) =>
      struct(m.as("m"), lit(1L << i).as("f"))
    }
    val pairs = for {
      ((mi, i), x) <- margins.zipWithIndex
      (mj, j) <- margins.drop(x + 1)
    } yield struct((mi + mj).as("m"), lit((1L << i) | (1L << j)).as("f"))
    val ranked = slice(array_sort(array((singles ++ pairs): _*)), 1, probes)
    concat(array(base), transform(ranked, s => base.bitwiseXOR(s.getField("f"))))
  }

  /** IVF coarse quantizer: spherical k-means centroids trained driver-side
    * on a bounded sample (IVF's standard construction — at corpus scale
    * the quantizer is always trained on a sample, so the driver-side loop
    * is not a scalability cliff; the expensive parts, assignment and
    * probing, stay distributed).
    *
    * Returns unit-normalized centroids, so nearest-by-dot == nearest-by-
    * cosine during assignment.
    */
  def trainIvfCentroids(
      corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, sampleN: Int = 4096, iters: Int = 12): Seq[Seq[Double]] = {
    // Deterministic UNBIASED sample: order by a salted hash of the id and
    // take N (a distributed TakeOrdered — no full sort materializes).
    // First-N-in-id-order was the previous construction; when ids
    // correlate with content (they usually do — ingestion order) the
    // quantizer only ever saw one corner of the space, and recall paid.
    val sample: Array[Array[Double]] = corpus
      .where(col(vecCol).isNotNull)
      .orderBy(xxhash64(col(idCol), lit(42L)), col(idCol))
      .limit(sampleN)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "IVF training needs a non-empty corpus")
    val dim = sample.head.length
    require(sample.forall(_.length == dim),
      s"IVF training needs fixed-dimension vectors (expected $dim)")
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val unit = sample.map(normalize)
    def dotv(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      d
    }
    // k-means++ seeding (deterministic): spread the initial centroids
    // with probability ∝ angular distance to the nearest chosen one —
    // uniform-random seeds routinely land two seeds in one dense cluster
    // and leave a sparse region uncovered, which shows up directly as
    // ANN recall loss.
    val rnd = new Random(42L)
    val seeds = scala.collection.mutable.ArrayBuffer(unit(rnd.nextInt(unit.length)))
    val d2 = unit.map(v => math.max(0.0, 1.0 - dotv(v, seeds.head)))
    while (seeds.length < math.min(k, unit.length)) {
      val total = d2.sum
      var pick = 0
      if (total <= 0) pick = rnd.nextInt(unit.length)
      else {
        var r = rnd.nextDouble() * total
        var i = 0
        while (i < unit.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
        pick = i
      }
      val c = unit(pick)
      seeds += c
      var i = 0
      while (i < unit.length) {
        d2(i) = math.min(d2(i), math.max(0.0, 1.0 - dotv(unit(i), c))); i += 1
      }
    }
    var cents: Array[Array[Double]] = seeds.toArray
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      // track the worst-assigned point per round to reseed empty clusters
      var worst = 0; var worstDot = Double.MaxValue
      unit.zipWithIndex.foreach { case (v, vi) =>
        var best = 0; var bestDot = Double.MinValue
        cents.indices.foreach { c =>
          val d = dotv(v, cents(c))
          if (d > bestDot) { bestDot = d; best = c }
        }
        if (bestDot < worstDot) { worstDot = bestDot; worst = vi }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) unit(worst) // reseed dead centroid at the outlier
        else normalize(sums(c))
      }.toArray
    }
    cents.map(_.toSeq).toSeq
  }

  /** Per-centroid DOT as array<struct<sim,cid>> — shared by corpus
    * assignment (argmax) and query probing (top-nprobe). Centroids are
    * unit-normalized, so dot ranks identically to cosine at a third of
    * the expression work (no norm recomputation per centroid).
    */
  private def centroidSims(vec: Column, centroids: Seq[Seq[Double]]): Column =
    array(centroids.zipWithIndex.map { case (c, i) =>
      struct(dot(vec, array(c.map(lit): _*)).as("sim"), lit(i).as("cid"))
    }: _*)

  /** The `n` nearest centroid ids for a vector, nearest first — the one
    * assignment expression shared by [[ivfTopK]]'s corpus listing
    * (n = spill), its query probing (n = nprobe), and the persisted
    * assignment table ([[graft.pipeline.AnnIndexStore]]), so stored and
    * ad-hoc assignments can never disagree.
    */
  def centroidTopCids(vec: Column, centroids: Seq[Seq[Double]], n: Int): Column =
    transform(
      slice(sort_array(centroidSims(vec, centroids), asc = false), 1, n),
      s => s.getField("cid"))

  /** Final per-query top-k ranking shared by every ANN/exact path (one
    * tie-break contract: sim desc, id asc).
    */
  private[graft] def rankTopK(
      scored: DataFrame, k: Int, qidCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(qidCol)
      .orderBy(col("sim").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), col("rank"), col(idCol).as("neighbor_id"), col("sim"))
  }

  /** IVF approximate top-k: corpus vectors are listed under their nearest
    * centroid (one expression-only scan, no shuffle); each query probes
    * its `nprobe` nearest inverted lists via an equi-join on centroid id.
    * The 100 TB shape: the corpus is never cross-joined, the per-query
    * candidate set is corpus/k * nprobe, and the assignment column can be
    * persisted as a table column (partitioned by cid) to amortize across
    * query batches.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: Seq[Seq[Double]], nprobe: Int = 4,
      qidCol: String = "qid", qvecCol: String = "qvec",
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true, spill: Int = 1): DataFrame = {
    // spill > 1: list each corpus vector under its top-`spill` centroids
    // (multi-assignment). Neighbors sitting just across a Voronoi
    // boundary — the dominant IVF miss mode — then share a list with the
    // query without raising nprobe; storage grows ×spill, probe cost per
    // list is unchanged.
    // per-side norm precompute (see bruteForceTopK): candidates are
    // corpus × spill / nprobe pairs — recomputing both norms per pair
    // tripled the scoring arithmetic; the division keeps the exact
    // expression shape so every sim is bit-identical
    HelperCols.requireAbsent("ivfTopK", Helpers, queries, corpus)
    val assigned = corpus.withColumn("__cnorm", norm(col(vecCol)))
      .withColumn("__cid",
        explode(centroidTopCids(col(vecCol), centroids, spill)))
    val probes = queries.withColumn("__cid",
      explode(centroidTopCids(col(qvecCol), centroids, nprobe)))
      .select(col(qidCol), col(qvecCol), norm(col(qvecCol)).as("__qnorm"),
        col("__cid"))
    val joined = assigned.join(probes, Seq("__cid"))
    val base = (if (excludeSelf) joined.filter(col(qidCol) =!= col(idCol)) else joined)
    // dedup spilled candidates on the ID PAIR only — the vectors are
    // functionally dependent on the ids, and a distinct() over full
    // embedding rows would shuffle and compare 2×dim doubles per row
    val cands = (if (spill > 1)
        base.select(col(qidCol), col(qvecCol), col("__qnorm"),
            col(idCol), col(vecCol), col("__cnorm"))
          .dropDuplicates(Seq(qidCol, idCol))
      else base)
      .withColumn("sim",
        dot(col(qvecCol), col(vecCol)) / (col("__qnorm") * col("__cnorm")))
    rankTopK(cands, k, qidCol, idCol)
  }

  /** Approximate top-k: candidates share an LSH bucket with the query.
    * `numPlanes` trades recall (fewer planes → bigger buckets → higher
    * recall & cost); multi-table variants union several bucketings;
    * `probes > 0` adds multi-probe recall on the QUERY side only — each
    * query also visits its `probes` nearest Hamming-adjacent buckets
    * ([[lshQueryBuckets]]), so recall rises with NO extra corpus pass
    * and no growth of the corpus-side shuffle key space.
    */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      numPlanes: Int = 8, dim: Int = 64, tables: Int = 2,
      excludeSelf: Boolean = true, probes: Int = 0): DataFrame = {
    // All tables' bucket keys are computed in ONE pass per side
    // (array<struct<tbl,bucket>> + posexplode) and candidates come from
    // ONE equi-join on (tbl, bucket) — not a scan+join per table. At
    // corpus scale that is `tables`× fewer scans; the broadcast side is
    // queries × tables × (1+probes) rows, still tiny.
    HelperCols.requireAbsent("lshTopK", Helpers, queries, corpus)
    val allPlanes = (0 until tables).map(t => hyperplanes(numPlanes, dim, seed = 42L + t))
    def buckets(vec: Column): Column =
      array(allPlanes.zipWithIndex.map { case (planes, t) =>
        struct(lit(t).as("tbl"), lshBucket(vec, planes).as("bucket"))
      }: _*)
    def queryBuckets(vec: Column): Column =
      concat(allPlanes.zipWithIndex.map { case (planes, t) =>
        transform(lshQueryBuckets(vec, planes, probes),
          b => struct(lit(t).as("tbl"), b.as("bucket")))
      }: _*)
    // per-side norm precompute (see bruteForceTopK) — bit-identical sims
    val c = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("__cnorm"),
      explode(buckets(col("embedding"))).as("tb"))
      .select(col("vec_id"), col("embedding"), col("__cnorm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val q = queries.select(col("qid"), col("qvec"),
      norm(col("qvec")).as("__qnorm"),
      explode(queryBuckets(col("qvec"))).as("tb"))
      .select(col("qid"), col("qvec"), col("__qnorm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val joined = c.join(broadcast(q), Seq("tbl", "bucket"))
    // dedup multi-table/multi-probe candidates on the ID PAIR only —
    // the vectors are functionally dependent on the ids (same contract
    // as ivfTopK's spill dedup), so a distinct() over the full rows
    // would shuffle and compare 2×dim doubles per candidate for nothing
    val cands = (if (excludeSelf) joined.filter(col("qid") =!= col("vec_id")) else joined)
      .select("qid", "vec_id", "qvec", "__qnorm", "embedding", "__cnorm")
      .dropDuplicates(Seq("qid", "vec_id"))
    val scored = cands.withColumn("sim",
      dot(col("qvec"), col("embedding")) / (col("__qnorm") * col("__cnorm")))
    rankTopK(scored, k, "qid", "vec_id")
  }
}
