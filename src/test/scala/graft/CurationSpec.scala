package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, Sampling}

/** Ground-truth checks for the curation operators (decontamination,
  * sequence packing, domain mixing, quotas) and the incremental
  * batch-vs-corpus near-dup hop.
  */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.table(spark, sf, "documents")

  // ---- decontaminate ----------------------------------------------------

  test("decontaminate flags every benchmark member and covers all docs") {
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val out = Curation.decontaminate(docs, bench, "doc_id", "text")
    assert(out.count() == docs.count()) // one row per doc, no dupes/drops
    // a benchmark doc shares ALL its grams with the benchmark: n_shared =
    // its own distinct-shingle count, and it is always contaminated
    val benchRows = out.filter(col("doc_id") % 17 === 0)
    assert(benchRows.filter(!col("contaminated")).count() == 0)
    val grams = docs.select(col("doc_id"),
      size(array_distinct(TextFunctions.wordShingles(
        TextFunctions.tokens(col("text")), 3))).cast("long").as("n_own"))
    val selfShort = benchRows.join(grams, "doc_id")
      .filter(col("n_shared") < col("n_own"))
    assert(selfShort.count() == 0,
      "a benchmark doc reported fewer shared grams than it owns")
  }

  test("decontaminate reports zero overlap for gram-disjoint docs") {
    val clean = Seq((1L, "aa bb cc dd ee"), (2L, "ff gg hh ii jj"))
      .toDF("doc_id", "text")
    val bench = Seq((99L, "xx yy zz ww vv")).toDF("doc_id", "text")
    val out = Curation.decontaminate(clean, bench, "doc_id", "text")
    assert(out.filter(col("contaminated")).count() == 0)
    assert(out.filter(col("n_shared") =!= 0L).count() == 0)
  }

  // ---- packSequences ----------------------------------------------------

  test("packSequences offsets are contiguous and seqs cut at the budget") {
    val packed = Curation.packSequences(
      docs, "doc_id", TextFunctions.tokenCount(col("text")),
      budgetTokens = 512L, shards = 8)
    assert(packed.count() == docs.count())
    // per shard: offsets ordered 0, t0, t0+t1, ... with no gaps/overlaps
    val rows = packed.orderBy("shard", "start_offset")
      .select("shard", "start_offset", "n_tokens", "seq_id")
      .collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      var expected = 0L
      rs.foreach { r =>
        assert(r.getLong(1) == expected,
          s"offset gap in shard ${r.getLong(0)}: ${r.getLong(1)} != $expected")
        assert(r.getLong(3) == r.getLong(1) / 512L) // seq = offset / budget
        expected += r.getLong(2)
      }
    }
  }

  test("packSequences layout is invariant under repartitioning") {
    val a = Curation.packSequences(docs, "doc_id",
      TextFunctions.tokenCount(col("text")), 512L, 8)
    val b = Curation.packSequences(docs.repartition(13), "doc_id",
      TextFunctions.tokenCount(col("text")), 512L, 8)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("packSequences rejects nonsense budget/shards") {
    intercept[IllegalArgumentException] {
      Curation.packSequences(docs, "doc_id", lit(1), 0L, 8)
    }
    intercept[IllegalArgumentException] {
      Curation.packSequences(docs, "doc_id", lit(1), 512L, 0)
    }
  }

  // ---- chunkDocuments ---------------------------------------------------

  test("chunking covers every token with exact overlap and window sizes") {
    val df = Seq((1L, (1 to 20).map(i => s"t$i").mkString(" ")), // 20 toks
      (2L, "a b c")) // shorter than one window
      .toDF("doc_id", "text")
    val chunks = Curation.chunkDocuments(df, "doc_id", "text",
      chunkTokens = 8, overlapTokens = 2)
      .orderBy("doc_id", "chunk_idx").collect()
    val d1 = chunks.filter(_.getLong(0) == 1L).map(_.getString(2))
    // stride 6: starts at 1, 7, 13 → ceil((20-2)/6) = 3 windows
    assert(d1.toSeq == Seq(
      (1 to 8).map(i => s"t$i").mkString(" "),
      (7 to 14).map(i => s"t$i").mkString(" "),
      (13 to 20).map(i => s"t$i").mkString(" ")))
    // adjacent windows repeat exactly the 2 overlap tokens
    assert(d1(0).split(" ").takeRight(2).toSeq == d1(1).split(" ").take(2).toSeq)
    val d2 = chunks.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2.head.getString(2) == "a b c")
    intercept[IllegalArgumentException] {
      Curation.chunkDocuments(df, "doc_id", "text", 8, 8) // overlap == chunk
    }
  }

  // ---- portableStratifiedSample -----------------------------------------

  test("portable stratified sample: stable membership, per-stratum rates") {
    val fracs = Map("en" -> 0.5, "de" -> 0.25)
    val kept = Sampling.portableStratifiedSample(
      docs, "doc_id", "lang", fracs, default = 0.1)
    val again = Sampling.portableStratifiedSample(
      docs.repartition(7), "doc_id", "lang", fracs, default = 0.1)
    assert(kept.select("doc_id").exceptAll(again.select("doc_id")).isEmpty)
    // per-stratum keep rate lands near its fraction (binomial tolerance)
    val byLang = docs.groupBy("lang").count().as("t")
      .join(kept.groupBy("lang").count().as("k"), "lang")
      .select(col("lang"), (col("k.count") / col("t.count")).as("rate"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def want(l: String) = fracs.getOrElse(l, 0.1)
    byLang.foreach { case (l, rate) =>
      assert(math.abs(rate - want(l)) < 0.15,
        f"$l keep rate $rate%.3f far from ${want(l)}%.2f")
    }
  }

  // ---- minhashPairsAgainst ----------------------------------------------

  test("incremental near-dup: full recall, no batch-internal pairs") {
    val t = TextFunctions.tokens(col("text"))
    val corpus = docs
    val batch = docs.withColumn("doc_id", col("doc_id") + 10000L)
      .withColumn("text",
        array_join(slice(t, lit(1), ceil(size(t) * 0.8).cast("int")), " "))
    val pairs = Dedup.minhashPairsAgainst(batch, corpus, "doc_id", "text",
      shingleSize = 3, numPerms = 64, bands = 32, minJaccard = 0.3)
    // every (i+10000, i) true pair surfaces
    val hits = pairs.filter(col("batch_id") === col("corpus_id") + 10000L)
    val recall = hits.count().toDouble / docs.count()
    info(f"incremental recall: $recall%.3f")
    assert(recall >= 0.95, f"recall $recall%.3f below 0.95")
    // output ids always come from the correct side
    assert(pairs.filter(col("batch_id") < 10000L).count() == 0)
    assert(pairs.filter(col("corpus_id") >= 10000L).count() == 0)
  }

  test("incremental near-dup accepts a precomputed corpus sketch") {
    val t = TextFunctions.tokens(col("text"))
    val batch = docs.withColumn("doc_id", col("doc_id") + 10000L)
      .withColumn("text",
        array_join(slice(t, lit(1), ceil(size(t) * 0.8).cast("int")), " "))
    val storedSigs = docs.select(col("doc_id").as("id"),
      TextFunctions.minhashSignature(
        TextFunctions.wordShingles(
          TextFunctions.tokens(col("text")), 3), 64).as("sig"))
    val fromStore = Dedup.minhashPairsAgainst(batch, docs, "doc_id", "text",
      numPerms = 64, bands = 32, minJaccard = 0.3,
      corpusSigs = Some(storedSigs))
    val fresh = Dedup.minhashPairsAgainst(batch, docs, "doc_id", "text",
      numPerms = 64, bands = 32, minJaccard = 0.3)
    val a = fromStore.select("batch_id", "corpus_id")
    val b = fresh.select("batch_id", "corpus_id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  // ---- quotaPerGroup ----------------------------------------------------

  test("quotaPerGroup keeps exactly the top-k of each group") {
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.8), ("a", 3L, 0.7), ("a", 4L, 0.6),
      ("b", 5L, 0.5), ("b", 6L, 0.4),
      ("c", 7L, 0.3)
    ).toDF("grp", "id", "score")
    val kept = Curation.quotaPerGroup(
      df, "grp", Seq(col("score").desc, col("id").asc), k = 2)
    assert(kept.count() == 5) // 2 + 2 + 1
    val ids = kept.select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 5L, 6L, 7L))
    intercept[IllegalArgumentException] {
      Curation.quotaPerGroup(df, "grp", Seq(col("score")), 0)
    }
  }

  test("quotaPerGroup ranks deterministically on ties via the id column") {
    val df = Seq(("a", 3L, 0.5), ("a", 1L, 0.5), ("a", 2L, 0.5))
      .toDF("grp", "id", "score")
    val kept = Curation.quotaPerGroup(
      df, "grp", Seq(col("score").desc, col("id").asc), k = 2)
    assert(kept.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("quotaPerGroup refuses an input column named like its helper column") {
    val df = Seq((1L, "g", 0.5, 7L)).toDF("id", "grp", "score", "__rank")
    val e = intercept[IllegalArgumentException](
      Curation.quotaPerGroup(df, "grp", Seq(col("score").desc), k = 1))
    assert(e.getMessage.contains("__rank"), e.getMessage)
  }
}
