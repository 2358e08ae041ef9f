package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

/** Native streaming sink: `df.writeStream.format("graft").start(root)`
  * (Delta `writeStream` parity — capability behind ref
  * `COPY_MSQL_TO_SILVER.py:193`, where the notebook's Delta target is a
  * valid streaming sink for free).
  *
  * Exactly-once across restarts: every micro-batch commits with the txn
  * marker `<appId>:<batchId>` (appId from `option("txnAppId", ...)`,
  * defaulting to the query's checkpointLocation — a QUERY identity,
  * never a table identity, because batchIds restart per checkpoint), so
  * a replayed batch — a crash between sink commit and checkpoint
  * advance — is skipped. The `pk` mode is the exactly-once upsert
  * ([[GraftTable.upsertLanded]]/[[GraftTable.upsertOnce]]) shared with
  * the foreachBatch loaders; append and Complete modes detect the replay
  * with [[GraftTable.lastTxn]].
  *
  * Modes, chosen by options (all stats-collecting so downstream merges
  * prune; `option("stats", "c1,c2")`):
  *  - default (Append output mode): versioned appends; with
  *    `option("changeFeed", "true")` each batch also publishes into the
  *    stored change feed (zero-copy hard links), making the table a
  *    complete NRT tail for the native `format("graft")` CDF source
  *  - `option("pk", "k1,k2")`: MERGE upsert per batch (streaming
  *    upsert) — matched keys update, new keys insert; combine with
  *    `changeFeed` for a stored feed of the upserts
  *  - Complete output mode: versioned overwrite per batch
  */
class GraftSink(
    spark: SparkSession, root: String, parameters: Map[String, String],
    outputMode: OutputMode) extends Sink {

  // Replay identity. The marker appId must identify the QUERY (its
  // checkpoint), not the table: batchIds restart at 0 for every fresh
  // checkpoint, so a table-root appId would make a NEW stream's batch 0
  // collide with an old stream's markers and be silently discarded as a
  // "replay". Delta keys replay detection the same way (query identity).
  // Precedence: explicit txnAppId > checkpointLocation > table root —
  // and the root fallback FAILS LOUDLY on marker collision (see
  // addBatch), because a checkpoint-less stream cannot legitimately
  // replay, so a colliding marker can only be a different stream's.
  private def opt(key: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }
  private val appId = opt("txnAppId")
    .orElse(opt("checkpointLocation").map(cp => "ckpt:" + cp.stripSuffix("/")))
    .getOrElse(root)
  private val appIdIsRootFallback =
    opt("txnAppId").isEmpty && opt("checkpointLocation").isEmpty
  private def csv(key: String): Seq[String] = parameters.get(key)
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
  private val pk = csv("pk")
  private val stats = { val s = csv("stats"); if (s.nonEmpty) s else pk }
  private val changeFeed =
    parameters.get("changeFeed").exists(_.equalsIgnoreCase("true"))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val t = GraftTable(spark, root)
    val marker = s"$appId:$batchId"
    val upsert = pk.nonEmpty && outputMode != OutputMode.Complete()
    lazy val landedTxn = t.exists && t.lastTxn(appId).exists(_ >= batchId)
    if (appIdIsRootFallback && landedTxn) throw new IllegalStateException(
      s"graft sink at $root found txn marker '$appId:${t.lastTxn(appId).get}' " +
        s">= incoming batch $batchId under the TABLE-ROOT appId fallback. A " +
        "stream without a checkpoint cannot replay, so these markers belong " +
        "to a different stream writing this table — discarding the batch " +
        "would silently lose it. Set option(\"txnAppId\", ...) (or a " +
        "checkpointLocation) to give this stream its own replay identity.")
    if (upsert) {
      if (t.upsertLanded(appId, marker, pk, changeFeed).isDefined) return
    } else if (landedTxn) { // replay
      // An append has no key to re-diff a lost publication on, so only
      // the FIRST batch's is healed: a crash between its commit and its
      // snapshot publication leaves the feed missing v1 — publish it now
      // (first-wins, so racing a concurrent publisher is benign).
      if (changeFeed && t.latestVersion.contains(1L) &&
          !t.changeFeedVersions.contains(1L))
        t.publishInitialSnapshot()
      return
    }
    // The incoming frame carries the micro-batch's INCREMENTAL plan:
    // re-planning it through a batch writer (data.rdd / data.write)
    // trips the streaming-source checker. Execute the plan the stream
    // already built (queryExecution.toRdd) and rebind the rows into a
    // plain batch frame; deserialization runs executor-side, nothing
    // lands on the driver.
    val schema = data.schema
    val encoder = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema))
      .resolveAndBind()
    val rows = data.queryExecution.toRdd.mapPartitions { it =>
      val deser = encoder.createDeserializer()
      it.map(r => deser(r.copy()))
    }
    val batch = spark.createDataFrame(rows, schema)
    val txn = Some(marker)
    val app = Some(appId)
    if (upsert)
      t.upsertOnce(batch, pk, appId, marker, changeFeed = changeFeed, statsCols = stats)
    else if (outputMode == OutputMode.Complete())
      t.overwriteStats(batch, stats, txn = txn, txnApp = app)
    else if (!t.exists) {
      t.overwriteStats(batch, stats, txn = txn, txnApp = app)
      if (changeFeed) t.publishInitialSnapshot()
    } else if (changeFeed)
      t.appendWithChangeFeed(batch, stats, txn = txn, txnApp = app)
    else
      t.appendStats(batch, stats, txn = txn, txnApp = app)
  }

  override def toString: String = s"GraftSink[$root]"
}
