package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Dedup
import graft.pipeline.SketchStore
import graft.sources.GraftTable

/** Continuous dedup-gated ingestion: subscribe to a document feed, and
  * per micro-batch admit only rows that are not near-duplicates — of
  * the corpus OR of a smaller-id row in the same batch — into the
  * corpus table; rejected rows land in a quarantine table with their
  * `dup_of` verdict. The corpus sketch store is the gate's memory: it
  * serves the corpus-side signatures and is re-synced from the
  * corpus's change feed after each admit, closing the loop.
  *
  * The 100 TB shape, per batch:
  *  - batch documents are hashed ONCE ([[Dedup.minhashSigs]]);
  *  - corpus-side candidates come from the STORED sketch table — the
  *    corpus text is never scanned for candidate generation;
  *  - the exact-Jaccard verify reads corpus text ONLY for candidate
  *    partner ids: up to [[maxIsinCandidates]] ids collect into an
  *    `isin` literal (pushes into manifest min/max file pruning, so
  *    verification touches O(matched files), not O(corpus)); a
  *    pathological batch whose candidates exceed the cap degrades to a
  *    left-semi join — no manifest pruning, but bounded driver memory;
  *  - admits are the exactly-once upsert ([[GraftTable.upsertOnce]];
  *    replays skip, as in [[StreamingSilverLoader]]) and publish their change
  *    feed, which the store sync then applies — O(admitted);
  *  - quarantine writes MERGE on (batch_id, id) rather than append, so
  *    an at-least-once replay of a batch that crashed between the
  *    quarantine write and the corpus commit converges instead of
  *    duplicating the rejected rows.
  */
class StreamingDedupIngest(
    spark: SparkSession,
    feedDir: String,
    feedSchema: StructType,
    corpus: GraftTable,
    quarantine: GraftTable,
    store: SketchStore,
    idCol: String,
    textCol: String,
    checkpointDir: String,
    minJaccard: Double = 0.5,
    shingleSize: Int = 3,
    numPerms: Int = 64,
    bands: Int = 16,
    txnAppId: Option[String] = None,
    maxIsinCandidates: Int = 10000,
    quarantineVacuumEvery: Int = 32,
    quarantineVacuumKeep: Int = 8,
    quarantineVacuumMinAgeMs: Long = 3600000L) {

  private def appId: String = txnAppId.getOrElse(checkpointDir)

  def start(maxFilesPerTrigger: Int = 100): StreamingQuery =
    spark.readStream
      .schema(feedSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(feedDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        gateBatch(batch, batchId)
      }
      .start()

  /** One micro-batch: verdict, admit, quarantine, sync. */
  private[graft] def gateBatch(batchRaw: DataFrame, batchId: Long): Unit = {
    // at-least-once replay guard: the admit is the exactly-once upsert
    // (GraftTable.upsertLanded/upsertOnce), so a replay heals the feed,
    // converges the store sync and skips — before isEmpty or any sketch
    // evaluates the batch
    val marker = s"$appId:$batchId"
    if (corpus.upsertLanded(appId, marker, Seq(idCol), changeFeed = true).isDefined) {
      store.syncFrom(corpus)
      return
    }
    if (batchRaw.isEmpty) return
    val batch = batchRaw.dropDuplicates(idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batch.count()
    val bSigs = Dedup.minhashSigs(batch, idCol, textCol, shingleSize, numPerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bSigs.count()

    // ---- candidates ----
    // keep handles on the RAW pair frames: the generators persist their
    // results for the caller; a long-running stream that never releases
    // them accretes MEMORY_AND_DISK blocks every micro-batch
    val inBatchRaw = Dedup.minhashPairs(batch, idCol, textCol,
      shingleSize, numPerms, bands, minJaccard = 0.0,
      precomputedSigs = Some(bSigs))
    val inBatch = inBatchRaw
      .select(greatest(col("id_a"), col("id_b")).as("id_a"),
        least(col("id_a"), col("id_b")).as("id_b"))
    val vsCorpusRaw =
      if (!corpus.exists) None
      else {
        store.syncFrom(corpus) // gate against the CURRENT corpus
        Some(Dedup.minhashPairsAgainst(batch, batch /* unused: sigs provided */,
          idCol, textCol, shingleSize, numPerms, bands, minJaccard = 0.0,
          corpusSigs = Some(store.sigs), batchSigs = Some(bSigs)))
      }
    val vsCorpus = vsCorpusRaw
      .map(_.select(col("batch_id").as("id_a"), col("corpus_id").as("id_b")))
      .getOrElse(inBatch.limit(0))

    // ---- exact verify over batch text + PRUNED corpus text ----
    val corpusTexts =
      if (vsCorpusRaw.isEmpty) batch.select(idCol, textCol).limit(0)
      else corpusTextsFor(vsCorpus.select("id_b").distinct(), batch)
    val docs = batch.select(idCol, textCol).unionByName(corpusTexts)
    val verified = Dedup.ngramJaccardVerify(
      vsCorpus.unionByName(inBatch).distinct(), docs, idCol, textCol,
      shingleSize, minJaccard)
    val verdict = verified.groupBy(col("id_a").as(idCol))
      .agg(min(col("id_b")).as("dup_of"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verdict.count()
    inBatchRaw.unpersist(false)
    vsCorpusRaw.foreach(_.unpersist(false))

    // ---- admit / quarantine ----
    val admitted = batch.join(verdict, Seq(idCol), "left_anti")
    val rejected = batch.join(verdict, Seq(idCol))
      .withColumn("batch_id", lit(batchId))
    quarantineRejected(rejected)
    // admitted rows are NEW by construction (a matched key would be a
    // dup); the merge still upserts defensively on the pk
    corpus.upsertOnce(admitted, Seq(idCol), appId, marker, changeFeed = true)
    store.syncFrom(corpus) // O(admitted): applies the feed rows just published
    verdict.unpersist(false)
    bSigs.unpersist(false)
    batch.unpersist(false)
  }

  /** Corpus text restricted to the candidate partner ids. Up to
    * [[maxIsinCandidates]] ids collect into one `isin` literal, which
    * [[GraftTable.scan]] turns into manifest min/max file pruning — the
    * point read that makes per-batch verification O(matched files). A
    * batch whose candidate set exceeds the cap (e.g. every row collides
    * with a common-shingle corpus at minJaccard 0) would both bloat the
    * plan and risk driver memory, so it degrades to a left-semi join:
    * same rows out, corpus-side scan unpruned but executor-bounded.
    * Ids are collected as untyped values — the id column's type is
    * whatever the caller's schema says, not hard-wired Long.
    */
  private[graft] def corpusTextsFor(
      candIds: DataFrame, batch: DataFrame): DataFrame = {
    val head = candIds.limit(maxIsinCandidates + 1).collect().map(_.get(0))
    if (head.isEmpty) batch.select(idCol, textCol).limit(0)
    else if (head.length <= maxIsinCandidates)
      corpus.scan.filter(col(idCol).isin(head.toIndexedSeq: _*))
        .select(idCol, textCol)
    else
      corpus.scan
        .join(candIds.withColumnRenamed("id_b", idCol), Seq(idCol), "left_semi")
        .select(idCol, textCol)
  }

  /** Quarantine write, replay-idempotent: MERGE on (batch_id, id) — a
    * crash between this write and the corpus commit makes the
    * at-least-once replay recompute the identical verdict (the corpus is
    * unchanged) and re-merge the same keys, converging instead of
    * appending duplicates. Also the quarantine's retention hook: a
    * long-running gate writes one version per rejecting batch, so vacuum
    * runs on the same version cadence as the follower stores.
    */
  private[graft] def quarantineRejected(rejected: DataFrame): Unit = {
    if (rejected.isEmpty) return
    if (quarantine.exists)
      quarantine.merge(rejected, Seq("batch_id", idCol))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll()
        .execute()
    else quarantine.overwriteStats(rejected, Seq(idCol))
    if (quarantineVacuumEvery > 0 &&
        quarantine.latestVersion.exists(_ % quarantineVacuumEvery == 0))
      quarantine.vacuum(
        keepVersions = quarantineVacuumKeep, minAgeMs = quarantineVacuumMinAgeMs)
  }
}
