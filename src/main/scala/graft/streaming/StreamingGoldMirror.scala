package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.GraftTable

/** The identity-keyed silver→gold streaming hop: subscribes to a TRACKED
  * silver table's change feed through the native source
  * (`readChangeFeed` + `withRowIds`) and maintains an exact gold mirror
  * keyed by `_row_id` — the medallion chain's next hop
  * (ref README.md:4), with the exactness row tracking buys carried
  * END-TO-END across the stream.
  *
  * Why identity and not the primary key: a key-changing UPDATE reaches a
  * key-paired consumer as an update whose key no longer matches the
  * mirrored row — the stale old-key row survives forever (no delete row
  * ever arrives for it). Keyed by `_row_id`, the same update is one
  * in-place merge match: the mirror stays multiset-equal to the silver
  * under key rewrites, compactions (no change rows at all), and deletes
  * (the feed's delete rows carry their id).
  *
  * The gold table stores the silver identity as a PLAIN column (it is
  * the mirror's pk) — by default under `_row_id`, allowed because the
  * mirror itself is then untracked (the reserved-name gate only guards
  * tables serving ids of their own). Pass `storedIdCol` to store it
  * under a NON-reserved name instead: the gold can then enable row
  * tracking of its OWN and serve the next hop (`syncMirror`,
  * `changedSince`) — the medallion chain's each-hop-re-keys shape.
  *
  * Effectively-once like [[StreamingSilverLoader]]: checkpointed offsets
  * + a txn marker per micro-batch, so an at-least-once `foreachBatch`
  * replay skips cleanly instead of re-applying.
  */
class StreamingGoldMirror(
    spark: SparkSession,
    silverRoot: String,
    goldRoot: String,
    checkpointDir: String,
    txnAppId: Option[String] = None,
    storedIdCol: Option[String] = None) {

  private val IdCol = GraftTable.RowIdOut
  private val GoldId = storedIdCol.getOrElse(IdCol)
  private def appId: String = txnAppId.getOrElse(checkpointDir)

  def start(): StreamingQuery =
    spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("withRowIds", "true")
      .load(silverRoot)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId)
      }
      .start()

  /** [[start]] under a SUPERVISOR that heals the one failure whose
    * recovery is mechanical: the source's named schema-drift stop. The
    * drift guard fails the batch so a restart replays it under the
    * evolved schema — the supervisor IS that restart, so an ADD COLUMN
    * on the silver heals with zero manual intervention (bounded by
    * `maxRestarts` per drain; every other failure propagates — a
    * restart loop on a non-drift error would just re-fail and mask it).
    */
  def startSupervised(maxRestarts: Int = 3): SupervisedMirror =
    new SupervisedMirror(this, maxRestarts)

  /** One micro-batch through the table's change fold: net to one image
    * per identity (a batch may span several commits for one row), then
    * one atomic apply — deleted identities drop, the rest upsert.
    */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long): Unit = {
    val gold = GraftTable(spark, goldRoot)
    val marker = s"$appId:$batchId"
    // replay-skip FIRST: a driver-only metadata check, while emptiness
    // evaluates the whole micro-batch plan
    if (gold.upsertLanded(appId, marker, Seq(GoldId), changeFeed = false).isDefined)
      return
    // the plan evaluates several times (emptiness, then the apply's own
    // probes), each repeating the source's id-fill joins: persist once
    batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (batch.isEmpty) return
      // identity IS the mirror key — a null id cannot be applied. The
      // native source serves complete ids on tracked tables; null here
      // means the feed predates tracking (start the stream past it).
      // The guard reads the netted rows: applied before the window it
      // changes the apply's Spark job plan.
      val net = GraftTable.netChanges(batch, IdCol).withColumn(IdCol,
        when(col(s"`$IdCol`").isNull, raise_error(lit(
          s"StreamingGoldMirror at $goldRoot: change row with null $IdCol " +
            "— the silver feed predates row tracking; start with " +
            "option(\"startingVersion\") past the enablement")))
          .otherwise(col(s"`$IdCol`")))
      gold.applyChanges(
        if (GoldId == IdCol) net else net.withColumnRenamed(IdCol, GoldId),
        GoldId, Some(appId -> marker))
    } finally batch.unpersist(false)
  }
}

object StreamingGoldMirror {
  /** Marker inside the stream source's NAMED schema-drift error
    * ([[graft.sources]] requireSchemaStable) — the one failure whose
    * recovery is a mechanical restart.
    */
  private[streaming] val DriftMarker =
    "restart the stream to pick up the evolved schema"
}

/** Handle over a supervised mirror stream ([[StreamingGoldMirror
  * .startSupervised]]): [[processAllAvailable]] drains like the raw
  * query, but a drain that dies on the source's named schema-drift stop
  * is healed by restarting the stream — the checkpoint replays the
  * uncommitted batch under the evolved schema, which is exactly the
  * drift guard's documented recovery. Any OTHER failure propagates
  * untouched: blind restart loops re-fail and mask real errors.
  */
final class SupervisedMirror private[streaming](
    mirror: StreamingGoldMirror, maxRestarts: Int) {

  @volatile private var current: StreamingQuery = mirror.start()
  @volatile private var restarts = 0

  def query: StreamingQuery = current

  /** Restarts taken over the handle's lifetime (observability). */
  def restartCount: Int = restarts

  private def isDrift(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists(c =>
      Option(c.getMessage).exists(_.contains(StreamingGoldMirror.DriftMarker)))

  /** Drain all available input, restarting (bounded) on schema drift.
    * The bound is PER DRAIN — a backlog carrying k independent schema
    * changes legitimately needs k restarts in one drain, while a
    * long-lived mirror healing one drift a day must never exhaust a
    * lifetime budget.
    */
  def processAllAvailable(): Unit = {
    var drainRestarts = 0
    while (true) {
      try { current.processAllAvailable(); return }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException
            if isDrift(e) && drainRestarts < maxRestarts =>
          drainRestarts += 1
          restarts += 1
          try current.stop() catch { case scala.util.control.NonFatal(_) => () }
          current = mirror.start()
      }
    }
  }

  def stop(): Unit = current.stop()
}
