package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.GraftTable

/** Outcome of one entity load (returned for observability/tests). */
case class LoadResult(
    entity: Entity,
    oldWatermark: String,
    newWatermark: Option[String],
    action: String, // "full" | "incremental" | "skip"
    rowsExtracted: Long,
    version: Option[Long])

/** The per-entity incremental load — the engine's equivalent of
  * `loadToSilverZone` (/root/reference/COPY_MSQL_TO_SILVER.py:94-218) and
  * the entity loop (ref :257-260).
  *
  * Protocol per entity (EP2):
  *  1. read latest closed watermark (EP1 query),
  *  2. probe the new watermark from the source (ref :128-134),
  *  3. open a watermark row (ref :143-152),
  *  4. if changed: extract full/CT/TMSTP (ref :159-176) and
  *     overwrite-or-merge into the silver [[GraftTable]] (ref :191-209),
  *  5. close the watermark (ref :212-218).
  *
  * Crash between 4 and 5 leaves an open watermark row that the EP1 query
  * ignores → the next run re-extracts from the old mark; the merge is
  * idempotent on the primary key ⇒ effectively-once (SURVEY §2.9).
  *
  * Sources are parquet dirs `<srcRoot>/<FromEntityName>.parquet`, change
  * feeds `<srcRoot>/<FromEntityName>_changes.parquet`.
  *
  * `correctedDeletes=true` enables the op-aware merge (whenMatchedDelete
  * on 'D') instead of the reference's nulled-row upsert (SURVEY §2.9).
  *
  * `registerInCatalog=true` reproduces the reference's post-load DDL
  * (ref :187-196: CREATE DATABASE + CREATE TABLE … USING DELTA
  * LOCATION): each silver table is registered as `<db>.<table>`, and
  * because registration is the auto-advancing manifest-backed relation,
  * DATA changes need no re-DDL ever; the loader re-issues the (cheap)
  * DDL only when the table is missing from the catalog or a merge
  * evolved the schema past the registration's pinned one.
  */
class SilverLoader(
    spark: SparkSession,
    config: ConfigStore,
    srcRoot: String,
    silverRoot: String,
    correctedDeletes: Boolean = false,
    registerInCatalog: Boolean = false,
    publishChangeFeed: Boolean = false,
    // keep each silver table row-tracked, enabled right after its first
    // load: the silver then serves IDENTITY downstream (the gold mirror's
    // exact hop, changedSince/syncMirror) — the chained-medallion default
    rowTracking: Boolean = false) {

  def sourceDf(e: Entity): DataFrame =
    spark.read.parquet(s"$srcRoot/${e.fromEntityName}.parquet")

  def changesDf(e: Entity): DataFrame =
    spark.read.parquet(s"$srcRoot/${e.fromEntityName}_changes.parquet")

  def silverTable(e: Entity): GraftTable = {
    val (db, tbl) = e.dbAndTable
    GraftTable(spark, s"$silverRoot/$db.$tbl") // ref :115-117 path scheme
  }

  /** The full orchestration run (EP1 + per-entity loop, ref :251-260).
    * Entities are independent units (ref runs them sequentially); with
    * `parallelism > 1` they load concurrently — Spark schedules the jobs
    * fairly across the shared session, which is how a real cluster keeps
    * executors busy while one entity waits on I/O.
    */
  def run(parallelism: Int = 1): Seq[LoadResult] = {
    val wms = config.entitiesWithWatermarks()
      .select("EntityId", "Watermark").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val es = config.entities
    val results =
      if (parallelism <= 1) es.map(e => loadEntity(e, wms(e.entityId)))
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        import java.util.concurrent.Executors
        val pool = Executors.newFixedThreadPool(parallelism)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try Await.result(
          Future.sequence(es.map(e => Future(loadEntity(e, wms(e.entityId))))),
          Duration.Inf)
        finally pool.shutdown()
      }
    // bound control-plane metadata: each load adds 2 watermark versions
    // (open + close); without GC, NRT cadence accumulates thousands of
    // manifests within weeks. 64 kept versions ≈ a 32-load audit window,
    // far deeper than any open→close span.
    config.vacuumControlPlane()
    results
  }

  def loadEntity(e: Entity, oldWatermark: String): LoadResult = {
    val source = sourceDf(e)
    val isCt = e.watermarkType == "CT"
    val isDefault =
      oldWatermark == Extractor.CtDefault || oldWatermark == Extractor.TmstpDefault

    // ---- 2. probe (ref :128-134) ----
    val newWatermark: Option[String] =
      if (isCt) {
        val v = Extractor.probeCtWatermark(changesDf(e))
        if (v > 0) Some(v.toString) else None
      } else Extractor.probeTmstpWatermark(
        source, e.timestampColumn.get, oldWatermark)

    newWatermark match {
      case Some(nw) if nw != oldWatermark =>
        // ---- 3. open (ref :143-152) ----
        val wmId = config.openWatermark(e.entityId, e.watermarkType, nw)
        // ---- 4a. extract (ref :159-176) ----
        val batch =
          if (isDefault) Extractor.fullExtract(source)
          else if (isCt) Extractor.ctExtract(
            changesDf(e), source, e.pkCols, oldWatermark.toLong)
          else Extractor.tmstpExtract(source, e.timestampColumn.get, oldWatermark)
        val cached = batch.cache() // ref :181
        val n = cached.count()
        // ---- 4b. write: overwrite on first load, merge after (ref :190-209) ----
        // the exactly-once upsert (GraftTable.upsertLanded/upsertOnce);
        // the load's retry unit is its watermark range, under the
        // entity's stable writer identity
        val target = silverTable(e)
        val txnAppId = s"silver:${e.entityId}"
        val txnMarker = s"$txnAppId:$oldWatermark->$nw"
        val version = target.upsertLanded(txnAppId, txnMarker, e.pkCols, publishChangeFeed)
          .getOrElse(target.upsertOnce(cached, e.pkCols, txnAppId, txnMarker,
            deleteWhen = Option.when(correctedDeletes)("SyncOperation = 'D'"),
            changeFeed = publishChangeFeed))
        // after the write and its snapshot publication: the maintenance
        // commit backfills ids onto the v1 files, so a graft-source
        // consumer started past it reads a fully-id'd snapshot; a replay
        // finishes an enablement a crash interrupted
        if (rowTracking && !target.latestManifest.exists(_.rowTracking))
          target.enableRowTracking()
        cached.unpersist()
        // ---- 4c. DDL (ref :187-196) ----
        // keyed on CATALOG state, not a first-load flag: a crash between the
        // first commit and the DDL (or a fresh metastore over existing
        // silver dirs) must register on the retry. Registration is
        // once-per-table: the relation derives BOTH its file listing and
        // its schema from the live manifest, so data AND schema
        // evolution need no re-DDL — only this session's relation cache
        // pins resolution, dropped here so readers sharing the loader's
        // session see a schema-evolving merge's new columns too (other
        // sessions resolve fresh by construction).
        if (registerInCatalog) {
          val (db, tbl) = e.dbAndTable
          if (!graft.sources.GraftCatalog.tableExists(spark, db, tbl))
            graft.sources.GraftCatalog.register(spark, db, tbl, target)
          else spark.catalog.refreshTable(s"`$db`.`$tbl`")
        }
        // ---- 5. close (ref :212-218) ----
        config.closeWatermark(wmId)
        LoadResult(e, oldWatermark, Some(nw),
          if (isDefault) "full" else "incremental", n, Some(version))
      case _ =>
        // no-op short-circuit (ref :157) — nothing new, nothing opened
        LoadResult(e, oldWatermark, newWatermark, "skip", 0L, None)
    }
  }
}
