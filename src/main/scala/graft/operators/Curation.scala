package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{tokens, wordShingles}

/** Corpus-curation operators for a training-data pipeline — the steps
  * between "deduplicated documents" and "training shards": benchmark
  * decontamination, deterministic sequence packing, and per-group
  * quality quotas.
  *
  * All three are shaped for the 100 TB corpus / small-control-side
  * asymmetry: decontamination broadcasts the (small) benchmark gram
  * set so the corpus side never shuffles its text; packing windows
  * partition by shard so parallelism is the shard count, never a
  * global sort; quotas use per-group rank with partial top-k pushdown
  * (WindowGroupLimit), never a global collect.
  */
object Curation {

  /** Benchmark decontamination: for each document, the number of
    * distinct `shingleSize`-word shingles it shares with ANY document
    * in `benchmark` (an eval set being protected from train-set
    * leakage), plus the derived contaminated flag.
    *
    * Scale shape: eval benchmarks are tiny (thousands of docs) next to
    * a 100 TB corpus, so the benchmark's distinct gram set is built
    * first and BROADCAST — the corpus side is then a single pass
    * (shingle, explode distinct grams, broadcast-hash-join, partial
    * count) whose only shuffle is the final per-doc count of MATCHED
    * grams, a frame bounded by the contamination volume, not the
    * corpus. Docs with no shared gram never reach the shuffle; the
    * left join re-attaches them with n_shared = 0.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3): DataFrame = {
    def grams(c: Column): Column =
      array_distinct(wordShingles(tokens(c), shingleSize))
    val benchGrams = benchmark
      .select(explode(grams(col(textCol))).as("__gram")).distinct()
    val hits = docs
      .select(col(idCol), explode(grams(col(textCol))).as("__gram"))
      .join(broadcast(benchGrams), Seq("__gram"))
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Deterministic sequence packing: assign each document a shard, a
    * token start-offset within its shard, and the training sequence
    * (of `budgetTokens` tokens) its first token lands in — the
    * token-offset chunking layout ("concatenate in a fixed
    * pseudorandom order, cut every budget tokens") used to build
    * fixed-length LM training sequences.
    *
    * Order within a shard is (portable bucket, id): pseudorandom but a
    * pure function of (id, seed) — the layout is reproducible across
    * runs, engines, and repartitioning, and a doc's position is
    * answerable later by recomputing two hashes.
    *
    * Scale shape: the only wide operation is the per-shard running
    * sum, and its window partitions by shard — parallelism IS
    * `shards` (set it to your cluster's write parallelism; each shard
    * is one training-data file). No global sort exists anywhere: a
    * 100 TB corpus packs as `shards` independent sorted cumsums.
    *
    * @param tokensCol token count per doc (e.g.
    *                  [[graft.functions.TextFunctions.tokenCount]])
    * @return id, n_tokens, shard, start_offset (tokens before this doc
    *         in its shard), seq_id (start_offset / budgetTokens)
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: Column,
      budgetTokens: Long, shards: Int, seed: Long = 42L): DataFrame = {
    require(budgetTokens > 0 && shards > 0,
      s"need positive budget/shards, got $budgetTokens/$shards")
    val w = Window.partitionBy("shard").orderBy(col("__bucket"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), tokensCol.cast("long").as("n_tokens"),
        Sampling.portableBucket(col(idCol), seed).as("__bucket"))
      .withColumn("shard", pmod(col("__bucket"), lit(shards.toLong)))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", floor(col("start_offset") / budgetTokens).cast("long"))
      .drop("__bucket")
  }

  /** Token-window chunking: split each document into fixed-size token
    * windows with `overlapTokens` of context repeated between adjacent
    * chunks — the RAG / long-document-training preparation step. Chunk
    * starts advance by `chunkTokens - overlapTokens`; the final window
    * may be short; a doc shorter than one window yields one chunk.
    *
    * Scale shape: a pure per-row projection (tokenize once, slice per
    * window) followed by `posexplode` — no shuffle, no state; the
    * output is partition-local and embarrassingly parallel. Chunk
    * identity (id, chunk_idx) is deterministic, so chunks are
    * re-derivable and joinable at any time.
    *
    * @return (idCol, chunk_idx, chunk_text, n_tokens) — one row per
    *         chunk, n_tokens the chunk's own token count
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlap < chunk, got $overlapTokens/$chunkTokens")
    val stride = chunkTokens - overlapTokens
    val toks = tokens(col(textCol))
    // number of windows: ceil(max(n - overlap, 1) / stride), always >= 1
    val n = size(toks)
    val nChunks = greatest(
      ceil((n - lit(overlapTokens)).cast("double") / stride).cast("int"), lit(1))
    val windows = transform(
      sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * stride + 1, lit(chunkTokens)), " "))
    df.select(col(idCol), posexplode(windows).as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_tokens", size(tokens(col("chunk_text"))).cast("long"))
  }

  /** Per-group quality quota: the top `k` rows of each group under
    * `ordering` (ties broken upstream — make the last ordering column
    * a unique id so the quota is deterministic). The curation step
    * "keep the best k docs per language/source/domain".
    *
    * Scale shape: rank-then-filter compiles to a WindowGroupLimit
    * partial top-k below the shuffle (each map task keeps only k rows
    * per group before exchanging), so the shuffle volume is
    * O(groups × k) per task, not O(corpus).
    */
  def quotaPerGroup(df: DataFrame, groupCol: String, ordering: Seq[Column],
      k: Int): DataFrame = {
    require(k > 0, s"need positive quota, got $k")
    HelperCols.requireAbsent("quotaPerGroup", Seq("__rank"), df)
    val w = Window.partitionBy(groupCol).orderBy(ordering: _*)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .drop("__rank")
  }
}
