package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.GraftTable

/** The genuinely-streaming version of the NRT loop: where the reference
  * re-runs a batch notebook on a schedule (README.md:4), this subscribes
  * to the change-feed directory with Structured Streaming and merges each
  * micro-batch into the silver [[GraftTable]] via `foreachBatch` —
  * SURVEY §2.9's "Spark mapping" for the watermark protocol:
  *
  *  - offsets/progress = the streaming checkpoint (replaces the
  *    Watermarks table's role for this path),
  *  - effectively-once = checkpointed offsets + the exactly-once
  *    upsert (a replayed batch finds its txn marker and skips),
  *  - deletes = op-aware merge, reference or corrected mode.
  *
  * Feed rows carry the entity's full payload + SYS_CHANGE_OPERATION
  * (I/U/D) — the Debezium/Delta-CDF shape. At scale the feed dir is a
  * partitioned append-only log; maxFilesPerTrigger bounds batch size.
  */
class StreamingSilverLoader(
    spark: SparkSession,
    feedDir: String,
    feedSchema: StructType,
    target: GraftTable,
    pkCols: Seq[String],
    checkpointDir: String,
    correctedDeletes: Boolean = true,
    publishChangeFeed: Boolean = false,
    // Idempotent-writer identity. MUST change together with the
    // checkpoint: batchIds restart at 0 when a checkpoint is deleted and
    // recreated, and a stale appId would make the replay guard skip the
    // re-listed batches as "already processed" — silently dropping data
    // (same contract as Delta's txnAppId). Defaulting to checkpointDir
    // ties the two for the common case of a NEW checkpoint path.
    txnAppId: Option[String] = None) {

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
        mergeBatch(batch, batchId)
      }
      .start()

  /** One micro-batch: dedupe to the latest op per key (a batch may carry
    * several changes for one key), audit-stamp, merge.
    */
  private[graft] def mergeBatch(batch: DataFrame, batchId: Long): Unit = {
    // foreachBatch is at-least-once: the exactly-once upsert
    // (GraftTable.upsertLanded/upsertOnce) makes a replay of a committed
    // batch a skip — checked before isEmpty evaluates the batch plan
    val marker = s"$appId:$batchId"
    if (target.upsertLanded(appId, marker, pkCols, publishChangeFeed).isDefined) return
    if (batch.isEmpty) return
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(pkCols.map(col): _*)
      .orderBy(col("SYS_CHANGE_VERSION").desc)
    val latest = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "SYS_CHANGE_VERSION")
      .withColumn("SyncDateTime", current_timestamp())
      .withColumnRenamed("SYS_CHANGE_OPERATION", "SyncOperation")
    target.upsertOnce(latest, pkCols, appId, marker,
      deleteWhen = Option.when(correctedDeletes)("SyncOperation = 'D'"),
      changeFeed = publishChangeFeed)
  }
}
