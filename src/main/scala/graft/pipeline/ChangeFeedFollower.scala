package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.GraftTable

/** A [[GraftTable]] derived row-for-row from a source table and kept in
  * sync by applying the source's stored CHANGE FEED — the machinery
  * shared by every "derive once at ingest, store the result" table
  * ([[SketchStore]]: MinHash signatures; [[AnnIndexStore]]: IVF
  * centroid assignments).
  *
  * Per sync cycle only the CHANGED source rows are re-derived
  * (insert/update from the feed's post-image; a delete, or an UPDATE
  * that moved the key away, drops it) — O(changes), never O(corpus).
  * Each sync commit carries a txn marker keyed to the SOURCE version it
  * caught up to, so replayed or racing syncs land exactly once.
  *
  * Window versions WITHOUT stored change data are triaged by the
  * table's one commit-delta rule ([[GraftTable.rowDelta]]): a version
  * that provably changed no row (maintenance, column DDL, row-tracking
  * enablement, a no-op restore, an unchanged file set) is skipped; any
  * other one — overwrite, restore, feed-off append or merge — forces
  * one full re-derive of the snapshot: loud in cost, never stale in
  * content.
  *
  * Derived schema: (idCol, [[deriveCols]]…, op string) — `op` is the
  * last sync operation audit column ('U'), mirroring the silver
  * tables' SyncOperation.
  */
abstract class ChangeFeedFollower(
    spark: SparkSession, root: String, idCol: String) {

  val table: GraftTable = GraftTable(spark, root)
  protected def appId: String

  /** Derived payload columns, evaluated against source rows (the full
    * snapshot on a resync; change-feed rows otherwise). Must be pure
    * per-row expressions over the source columns — delete rows run
    * through them too (on the pre-image the feed carries; the value is
    * discarded when the 'D' condition removes the key).
    */
  protected def deriveCols(rows: DataFrame): Seq[Column]

  /** Hook before a full resync derives the whole snapshot — e.g. train
    * a model the derivation depends on. Anything trained here must be
    * STAGED, not published: promote it in [[afterFullResyncCommit]] (the
    * commit won) and discard it in [[fullResyncAborted]] (a racer won;
    * the store now reflects the RACER's derivation, and publishing ours
    * would silently desync the model from the stored rows).
    */
  protected def beforeFullResync(snapshot: DataFrame): Unit = ()

  /** Hook after this process's full-resync overwrite COMMITTED. */
  protected def afterFullResyncCommit(): Unit = ()

  /** Hook when this process's full-resync commit lost a race (whether
    * or not the racer's commit lets us converge).
    */
  protected def fullResyncAborted(): Unit = ()

  /** Source version the store has applied, if any. */
  def syncedVersion: Option[Long] =
    if (table.exists) table.lastTxn(appId) else None

  /** Catch the store up to the source's latest version. Returns the
    * source version now reflected (-1 for an uncommitted source). First
    * sync derives the full snapshot; later syncs apply only the
    * change-feed rows of the missed versions.
    */
  def syncFrom(source: GraftTable): Long = {
    val target = source.latestVersion.getOrElse(return -1L)
    val last = syncedVersion
    if (last.exists(_ >= target)) return last.get

    val baseAtEntry = if (table.exists) table.latestVersion else None
    def fullResync(): Long = {
      val snap = source.snapshot
      beforeFullResync(snap)
      try {
        // a store commit since entry means a racer is active — re-check
        // its marker the same way a commit conflict would, BEFORE paying
        // for the write (derivation such as quantizer training can take
        // long enough for the racer to win silently otherwise)
        if (table.exists && table.latestVersion != baseAtEntry)
          throw new java.util.ConcurrentModificationException(
            s"follower store at $root advanced during sync")
        table.overwriteStats(
          snap.select(col(idCol) +: deriveCols(snap) :+ lit("U").as("op"): _*),
          Seq(idCol),
          txn = Some(s"$appId:$target"), txnApp = Some(appId))
        afterFullResyncCommit()
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // a racing full sync won the version; if its marker covers our
          // target, its commit IS this sync — converge (same contract as
          // the incremental path's conflict handling below). Either way
          // OUR derivation never committed: discard its staged state so
          // side artifacts (e.g. trained quantizers) cannot outlive a
          // commit that lost.
          fullResyncAborted()
          if (!table.lastTxn(appId).exists(_ >= target)) throw e
      }
      target
    }
    if (last.isEmpty) return fullResync()

    val stored = source.changeFeedVersions.toSet
    val unsafeGap = ((last.get + 1) to target).filterNot(stored).exists { v =>
      try source.rowDelta(Some(source.manifest(v - 1)), source.manifest(v)).isDefined
      catch { case _: java.nio.file.NoSuchFileException => true } // vacuumed
    }
    if (unsafeGap) return fullResync()
    val changes =
      if (stored.exists(v => v > last.get && v <= target))
        // pin the window: a commit racing past `target` syncs next
        // time, keeping the txn marker's meaning exact
        source.changeFeed(sinceVersion = last.get + 1)
          .filter(col("_commit_version") <= target)
      else // provably change-free window: advance the marker only
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          source.changeFeedSchema)
    // one decision per key across the window (the table's one net-change
    // rule: a key that only left in its last commit comes out a delete),
    // applied through the exactly-once upsert
    val net = GraftTable.netChanges(changes, idCol)
    val batch = net.select(
      col(idCol) +: deriveCols(net) :+
        when(col("_change_type") === "delete", "D").otherwise("U").as("op"): _*)
    try
      table.upsertOnce(batch, Seq(idCol), appId, s"$appId:$target",
        deleteWhen = Some("op = 'D'"))
    catch {
      case e: java.util.ConcurrentModificationException =>
        // two syncs racing the same window apply the same keys and WILL
        // conflict at commit; if the winner's marker covers our target,
        // its commit IS this sync — converge instead of surfacing
        if (table.lastTxn(appId).exists(_ >= target)) return target
        throw e
    }
    // NRT hygiene: a sync per cycle is a version per cycle — without a
    // retention pass the store's manifest count grows unboundedly (the
    // control-plane lesson, ControlPlane.vacuumControlPlane). Old
    // versions of a DERIVED table carry no recovery value (any state is
    // reconstructible from the source), so a shallow horizon is safe;
    // the txn index survives vacuum, keeping replay detection intact.
    if (vacuumEvery > 0 && table.latestVersion.exists(_ % vacuumEvery == 0))
      table.vacuum(keepVersions = vacuumKeep, minAgeMs = vacuumMinAgeMs)
    target
  }

  /** Run a retention pass every N store versions (0 disables). */
  protected def vacuumEvery: Int = 32
  protected def vacuumKeep: Int = 8
  protected def vacuumMinAgeMs: Long = 3600000L
}
