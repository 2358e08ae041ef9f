package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val emb = Tables.table(spark, sf, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") < 20)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  test("cosine of a vector with itself is 1") {
    val self = emb.limit(5)
      .withColumn("sim", Similarity.cosine(col("embedding"), col("embedding")))
    assert(self.collect().forall(r => math.abs(r.getAs[Double]("sim") - 1.0) < 1e-9))
  }

  test("brute-force top-k returns exactly k ranked neighbors per query") {
    val topk = Similarity.bruteForceTopK(queries, emb, 5)
    val counts = topk.groupBy("qid").count().collect()
    assert(counts.length == 20 && counts.forall(_.getLong(1) == 5))
    // ranks are 1..5 and sims are non-increasing within each query
    val byQ = topk.orderBy("qid", "rank").collect().groupBy(_.getLong(0))
    for ((_, rows) <- byQ) {
      val sims = rows.sortBy(_.getInt(1)).map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF ANN recall@3 vs brute force is useful (>= 0.5)") {
    val exact = Similarity.bruteForceTopK(queries, emb, 3)
      .select(col("qid"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 16)
    assert(cents.length == 16 && cents.forall(_.length == 64))
    val approx = Similarity.ivfTopK(queries, emb, 3, cents, nprobe = 4)
      .select(col("qid"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"IVF recall@3: $recall%.3f")
    assert(recall >= 0.5, f"recall $recall%.3f below 0.5")
  }

  test("IVF ANN recall@3 at sf0.1 is production-grade (>= 0.75)") {
    val emb1 = Tables.table(spark, "/root/testdata/sf0.1", "embeddings")
    val q1 = emb1.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(q1, emb1, 3)
      .select(col("qid"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // The synthetic embeddings are near-uniform on the 64-dim sphere —
    // the known worst case for ANN (neighbor sims concentrate), observed
    // here as recall ≈ 0.6 + 0.45·candidateFraction across (k, nprobe)
    // sweeps. Spill assignment (top-3 lists per corpus vector) reaches
    // 0.83 recall; on real clustered embeddings the same config probes a
    // far smaller corpus fraction for the same recall.
    val cents = Similarity.trainIvfCentroids(emb1, "embedding", "vec_id", k = 64)
    val approx = Similarity.ivfTopK(q1, emb1, 3, cents, nprobe = 10, spill = 3)
      .select(col("qid"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"IVF recall@3 at sf0.1: $recall%.3f")
    assert(recall >= 0.75, f"recall $recall%.3f below 0.75")
  }

  test("IVF centroid training is deterministic") {
    val a = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
    val b = Similarity.trainIvfCentroids(emb, "embedding", "vec_id", k = 8)
    assert(a == b)
  }

  test("multi-probe LSH recall@3 at sf0.1 is >= 0.9 with one corpus pass") {
    val emb1 = Tables.table(spark, "/root/testdata/sf0.1", "embeddings")
    val q1 = emb1.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(q1, emb1, 3)
      .select(col("qid"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Same near-uniform-sphere caveat as the IVF test above: high recall
    // on this worst-case distribution needs a high candidate fraction.
    // Multi-probe supplies it on the QUERY side only — each query visits
    // its base bucket plus the 8 nearest Hamming-≤2 buckets per table,
    // ranked by hyperplane margin — while the corpus is bucketed and
    // scanned exactly ONCE (the probe knob is free of corpus cost, which
    // is the whole point at 100 TB).
    val approx = Similarity.lshTopK(q1, emb1, 3,
      numPlanes = 4, dim = 64, tables = 8, probes = 8)
      .select(col("qid"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"multi-probe LSH recall@3 at sf0.1: $recall%.3f")
    assert(recall >= 0.9, f"recall $recall%.3f below 0.9")
  }

  test("LSH ANN recall@3 vs brute force is useful (>= 0.5)") {
    val exact = Similarity.bruteForceTopK(queries, emb, 3)
      .select(col("qid"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, emb, 3,
      numPlanes = 4, dim = 64, tables = 8)
      .select(col("qid"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ANN recall@3: $recall%.3f")
    assert(recall >= 0.5, f"recall $recall%.3f below 0.5")
  }

  test("an input column named like a helper column fails loudly, never overwritten") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val qs = Seq((1L, Seq(1.0f, 0.0f))).toDF("qid", "qvec")
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val calls: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      "bruteForceTopK" -> ((q, c) => Similarity.bruteForceTopK(q, c, 1)),
      "ivfTopK" -> ((q, c) => Similarity.ivfTopK(q, c, 1, centroids, nprobe = 1)),
      "lshTopK" -> ((q, c) => Similarity.lshTopK(q, c, 1, dim = 2)),
      "cosineNearDupAgainst" -> ((_, c) => Similarity.cosineNearDupAgainst(c, corpus, 0.9)))
    for ((name, call) <- calls; h <- Seq("__cnorm", "__qnorm", "__bnorm", "__cid")) {
      val e = intercept[IllegalArgumentException](call(qs, corpus.withColumn(h, lit(7.0))))
      assert(e.getMessage.contains(h), s"$name with $h: ${e.getMessage}")
    }
    // the query side is checked too, and the match is case-insensitive
    intercept[IllegalArgumentException](
      Similarity.bruteForceTopK(qs.withColumn("__QNORM", lit(1.0)), corpus, 1))
    assert(Similarity.bruteForceTopK(qs, corpus, 1, excludeSelf = false).count() == 1)
  }
}
