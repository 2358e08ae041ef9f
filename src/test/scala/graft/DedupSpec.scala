package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Recall/precision checks for the dedup family against constructed
  * ground truth: documents ∪ perturbed copies (id+10000) — every pair
  * (i, i+10000) is a true near-duplicate.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.table(spark, sf, "documents")
  private lazy val nDocs = docs.count()

  private lazy val corpus = {
    val t = TextFunctions.tokens(col("text"))
    docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + 10000L)
        .withColumn("text",
          array_join(slice(t, lit(1), ceil(size(t) * 0.8).cast("int")), " ")))
  }

  test("exact dedup finds every constructed duplicate group") {
    val exact = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 10000L))
    val groups = Dedup.exactGroups(exact, col("text"), "doc_id")
    assert(groups.count() == nDocs)
    assert(groups.filter(col("n_dups") === 2).count() == nDocs)
    // survivors are exactly the original ids
    val kept = Dedup.exactDedup(exact, col("text"), "doc_id")
    assert(kept.count() == nDocs)
    assert(kept.filter(col("doc_id") >= 10000).count() == 0)
  }

  test("minhash LSH recall on 80%-prefix near-dups >= 0.8") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      shingleSize = 3, numPerms = 64, bands = 16, minJaccard = 0.4)
    val truePositives = pairs
      .filter(col("id_b") === col("id_a") + 10000L).count()
    val recall = truePositives.toDouble / nDocs
    info(f"minhash recall: $recall%.3f ($truePositives/$nDocs)")
    assert(recall >= 0.8, f"recall $recall%.3f below 0.8")
  }

  test("ngram jaccard verification confirms minhash candidates") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      shingleSize = 3, numPerms = 64, bands = 16, minJaccard = 0.4)
    val verified = Dedup.ngramJaccardVerify(
      pairs, corpus, "doc_id", "text", shingleSize = 3, minJaccard = 0.5)
    // every surviving pair is a true constructed pair or a genuine overlap;
    // all constructed pairs that were candidates must survive with high jaccard
    val confirmed = verified.filter(col("id_b") === col("id_a") + 10000L)
    assert(confirmed.count() >= (0.7 * nDocs).toLong)
  }

  test("allPairsJaccard equals the cross-join verify pair-for-pair") {
    // the inverted-index plan must yield the SAME pair set with
    // bit-identical jaccards as brute-force over every id pair
    val ids = corpus.select(col("doc_id"))
    val allPairs = ids.select(col("doc_id").as("id_a"))
      .crossJoin(broadcast(ids.select(col("doc_id").as("id_b"))))
      .filter(col("id_a") < col("id_b"))
    val brute = Dedup.ngramJaccardVerify(allPairs, corpus, "doc_id", "text",
      shingleSize = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fast = Dedup.allPairsJaccard(corpus, "doc_id", "text",
      shingleSize = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == brute,
      s"missing=${(brute -- fast).take(3)} extra=${(fast -- brute).take(3)}")
    assert(brute.nonEmpty, "fixture must produce true pairs")
  }

  test("simhash pairs are COMPLETE at the advertised radius (recall 1.0)") {
    // ground truth: brute-force Hamming over every corpus pair — the
    // pigeonhole blocking must reproduce the in-radius set EXACTLY
    val maxHamming = 7
    val sketches = corpus.select(col("doc_id"),
      TextFunctions.simhash64(TextFunctions.tokens(col("text"))).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      i <- sketches.indices.iterator
      j <- (i + 1) until sketches.length
      if java.lang.Long.bitCount(sketches(i)._2 ^ sketches(j)._2) <= maxHamming
    } yield {
      val (a, b) = (sketches(i)._1, sketches(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    info(s"in-radius pairs: ${truth.size} (constructed near-dups among them: " +
      s"${truth.count { case (a, b) => b == a + 10000L }}/$nDocs)")
    assert(got == truth,
      s"missed ${(truth -- got).size}, spurious ${(got -- truth).size}")
  }

  test("simhash 4-block (radius-3) configuration is also complete") {
    val sketches = corpus.select(col("doc_id"),
      TextFunctions.simhash64(TextFunctions.tokens(col("text"))).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      i <- sketches.indices.iterator
      j <- (i + 1) until sketches.length
      if java.lang.Long.bitCount(sketches(i)._2 ^ sketches(j)._2) <= 3
    } yield {
      val (a, b) = (sketches(i)._1, sketches(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    val got = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth,
      s"missed ${(truth -- got).size}, spurious ${(got -- truth).size}")
  }

  test("connected components collapse chains, cliques, and singleton pairs") {
    import spark.implicits._
    // components: chain 1-2-3-4 (diameter 3), triangle 10-11-12,
    // disjoint pair 20-21, and cross-linked 30-31-32-33 (31-32 bridge)
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L),
      (30L, 31L), (32L, 33L), (31L, 32L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L)
    assert(got == expected)
  }

  test("connected components of minhash pairs recover the copy clusters") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      shingleSize = 3, numPerms = 64, bands = 16, minJaccard = 0.4)
    val comps = Dedup.connectedComponents(pairs)
    // every (i, i+10000) true-dup pair must land in the same component
    val labels = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val together = (0L until nDocs).count(i =>
      labels.get(i).isDefined && labels.get(i) == labels.get(i + 10000L))
    assert(together >= (nDocs * 0.8).toInt,
      s"only $together/$nDocs true-dup pairs share a component")
    pairs.unpersist(false)
  }

  test("dedupByClusters keeps the minimum PRESENT member per cluster") {
    import spark.implicits._
    // cluster {1,2,3} (rep 1), cluster {10,11} (rep 10), unclustered 20
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "component")
    // corpus filtered upstream: representative 1 is gone, 'component'
    // column name on the corpus must not clash with internals
    val corpus = Seq((2L, "b"), (3L, "c"), (10L, "j"), (11L, "k"), (20L, "z"))
      .toDF("doc_id", "component")
    val got = Dedup.dedupByClusters(corpus, comps, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 10L, 20L)) // 2 survives for its cluster, not dropped
  }

  test("deep chains: label-prop exhaustion falls back to star, never wrong labels") {
    import spark.implicits._
    // a 12-hop chain cannot converge in 3 rounds of min-label
    // propagation; the star fallback must still return CORRECT labels
    // (the old contract threw here — falling back to a guaranteed
    // O(log n) algorithm strictly dominates failing)
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ok = Dedup.connectedComponents(chain, maxIters = 3).collect()
    assert(ok.forall(_.getLong(1) == 0L) && ok.length == 13)
  }

  test("star alternation converges in far fewer rounds than the diameter") {
    import spark.implicits._
    // 64-hop chain (diameter 64): min-label propagation needs 64 rounds;
    // the large-star/small-star alternation is O(log n) — 10 rounds must
    // be ample, and the labels must be exact
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsStar(chain, maxIters = 10).collect()
    assert(got.length == 65 && got.forall(_.getLong(1) == 0L))
    // a chain NOT rooted at the global min: component = the chain's min
    val offset = (100L until 130L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got2 = Dedup.connectedComponentsStar(offset, maxIters = 10).collect()
    assert(got2.length == 31 && got2.forall(_.getLong(1) == 100L))
    // self-loop-only vertices survive labelled as themselves
    val loops = Seq((5L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val got3 = Dedup.connectedComponentsStar(loops).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == Map(5L -> 5L, 6L -> 6L, 7L -> 6L))
  }

  test("connected components agree with driver union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: classic union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      def root(x: Int): Long = {
        val seen = edges.flatMap(e => Seq(e._1, e._2)).toSet
        if (!seen.contains(x.toLong)) -1L else find(x).toLong
      }
      // min-id canonical label per union-find component
      val byRoot = (0 until n).filter(i => root(i) >= 0)
        .groupBy(i => find(i)).map { case (_, ids) => ids.map(_.toLong).toSet }
      val want = byRoot.flatMap(ids => ids.map(_ -> ids.min)).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial mismatch")
      // the star alternation must agree exactly on the same graphs
      val gotStar = Dedup.connectedComponentsStar(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStar == want, s"trial $trial star mismatch")
    }
  }

  test("dedup gate: corpus dups point at corpus, in-batch dups at batch, new docs pass") {
    // q72's fixture: prefix copies of corpus docs (+10000), genuinely
    // new docs (+20000), and prefix copies OF the new docs (+21000)
    val verdicts = PipelineQueries.q72DedupGate(spark, sf)
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val corpusDups = verdicts.filter { case (id, _) => id >= 10000 && id < 10200 }
    // each prefix copy's own source doc IS a verified partner, and every
    // partner smaller than a corpus id is itself a corpus id
    assert(corpusDups.nonEmpty && corpusDups.forall { case (_, d) => d.exists(_ < 400) })
    val inBatchDups = verdicts.filter { case (id, _) => id >= 21000 }
    assert(inBatchDups.nonEmpty &&
      inBatchDups.forall { case (id, d) => d.exists(_ <= id - 1000) })
    val fresh = verdicts.filter { case (id, _) => id >= 20000 && id < 21000 }
    // new docs predominantly enter the corpus (the synthetic data has a
    // handful of genuine natural near-dups — the oracle hash-match in
    // q72 checks those exactly; here only the broad shape)
    assert(fresh.count(_._2.isEmpty) >= fresh.size * 2 / 3)
  }

  test("fingerprints of identical docs are identical, near-dups overlap") {
    val fp = docs.select(col("doc_id"),
      TextFunctions.fingerprint(
        TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3), 8).as("fp"))
    val fp2 = docs.select(col("doc_id"),
      TextFunctions.fingerprint(
        TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3), 8).as("fp2"))
    val joined = fp.join(fp2, "doc_id")
      .filter(col("fp") === col("fp2"))
    assert(joined.count() == nDocs, "fingerprint must be deterministic")
  }

  test("exact dedup refuses an input column named like its helper column") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a", 9L), (2L, "a", 8L)).toDF("id", "text", "x")
    for ((h, call) <- Seq[(String, org.apache.spark.sql.DataFrame => Any)](
        "__rn" -> (d => Dedup.exactDedup(d, col("text"), "id")),
        "__key" -> (d => Dedup.exactGroups(d, col("text"), "id")))) {
      val e = intercept[IllegalArgumentException](call(df.withColumnRenamed("x", h)))
      assert(e.getMessage.contains(h), e.getMessage)
    }
  }
}
