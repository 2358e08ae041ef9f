package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.GraftTable

/** Outcome of one sync cycle (returned for observability/tests). */
case class SyncResult(
    entityId: Long,
    oldCursor: Long,
    newCursor: Long,
    action: String, // "bootstrap" | "incremental" | "skip"
    watermarkId: Option[Long])

/** Thrown by the crash-injection seam in tests — never in production. */
private[graft] class SimulatedCrash(where: String)
  extends RuntimeException(s"simulated crash: $where")

/** [[GraftTable.syncMirror]] wired to a DURABLE cursor through the
  * watermark protocol — the reference's crash-safe progress record
  * (dbo.OpenWatermark / dbo.CloseWatermark,
  * /root/reference/dbrconfig.sql:45-91, consumed
  * /root/reference/COPY_MSQL_TO_SILVER.py:234-248) applied to the
  * version-cursor sync surface. Without this, `syncMirror` returns the
  * next cursor but nothing persists it: a crashed caller forgets where
  * its mirror stands and must rebuild from a full snapshot.
  *
  * Protocol per cycle (the same EP2 shape as [[SilverLoader]], with the
  * table VERSION as the CT counter):
  *  1. cursor = latest CLOSED watermark for the entity (0 = never
  *     synced);
  *  2. probe: `now` = source's latest committed version;
  *  3. no-op short-circuit when `now == cursor` (nothing committed
  *     since — no watermark rows, no jobs);
  *  4. open a watermark row carrying `now` (open = NULL end datetime,
  *     ignored by the cursor read);
  *  5. sync PINNED TO `now` — both halves read the immutable manifest
  *     of `now`, so a concurrent writer cannot move the extract past
  *     the value the watermark records;
  *  6. close the watermark — only now does the cursor advance.
  *
  * Crash between 5 and 6 leaves an open record the cursor read ignores:
  * the next cycle re-syncs from the OLD cursor and the identity-keyed
  * merge replays idempotently (re-upserts rewrite equal values in
  * place; re-deletes find no match and the insert clause skips delete
  * rows). A crash before the bootstrap's close leaves cursor 0, and
  * `syncMirror` from 0 re-runs the bootstrap as an overwrite —
  * idempotent by construction.
  * Effectively-once, same argument as SURVEY §2.9.
  */
class SyncRunner(
    spark: SparkSession,
    config: ConfigStore,
    source: GraftTable,
    mirror: GraftTable,
    entityId: Long) {

  /** Latest CLOSED cursor for the entity; 0 before the first close.
    * Control tables are tiny — this is a broadcast-size driver read.
    */
  def cursor: Long = {
    val closed = config.watermarksDf
      .filter(col("EntityId") === entityId && col("LoadEndDatetime").isNotNull)
      .agg(max("CTWatermark"))
      .collect()(0)
    if (closed.isNullAt(0)) 0L else closed.getLong(0)
  }

  def runOnce(): SyncResult = runOnceImpl(crashBeforeClose = false)

  /** `crashBeforeClose` is the test seam: everything through the merge
    * commits, then the process "dies" before the close — the exact
    * window the protocol exists for.
    */
  private[graft] def runOnceImpl(crashBeforeClose: Boolean): SyncResult = {
    val since = cursor
    val now = source.latestVersion.getOrElse(throw new IllegalStateException(
      s"SyncRunner(entity $entityId): source table has no committed version"))
    if (now == since && mirror.exists)
      return SyncResult(entityId, since, since, "skip", None)
    val wmId = config.openWatermark(entityId, "CT", now.toString)
    // cursor 0 with an existing mirror = a crash dropped the bootstrap's
    // close: syncMirror re-runs the (idempotent) full overwrite
    val bootstrap = since == 0L || !mirror.exists
    source.syncMirror(mirror, since, Some(now))
    if (crashBeforeClose) throw new SimulatedCrash("between merge and close")
    config.closeWatermark(wmId)
    SyncResult(entityId, since, now,
      if (bootstrap) "bootstrap" else "incremental", Some(wmId))
  }
}

/** The entity loop applied to the SYNC stage — the reference's
  * per-entity orchestration (ref COPY_MSQL_TO_SILVER.py:257-260, the
  * loop [[SilverLoader.run]] implements for loads) driving one
  * [[SyncRunner]] cycle per registered entity: each mirror advances on
  * its own durable cursor, entities are independent units (parallelism
  * schedules them concurrently over the shared session), and the
  * control plane is vacuumed once per sweep like the loader's.
  *
  * Paths follow the loader's scheme: source at
  * `<srcRoot>/<FromEntityName>`, mirror at `<mirrorRoot>/<db>.<table>`
  * (from ToEntityName).
  */
class SyncOrchestrator(
    spark: SparkSession,
    config: ConfigStore,
    srcRoot: String,
    mirrorRoot: String) {

  def sourceTable(e: Entity): GraftTable =
    GraftTable(spark, s"$srcRoot/${e.fromEntityName}")

  def mirrorTable(e: Entity): GraftTable = {
    val (db, tbl) = e.dbAndTable
    GraftTable(spark, s"$mirrorRoot/$db.$tbl")
  }

  def run(parallelism: Int = 1): Seq[SyncResult] = {
    val es = config.entities
    def cycle(e: Entity): SyncResult =
      new SyncRunner(spark, config, sourceTable(e), mirrorTable(e), e.entityId)
        .runOnce()
    val results =
      if (parallelism <= 1) es.map(cycle)
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        import java.util.concurrent.Executors
        val pool = Executors.newFixedThreadPool(parallelism)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try Await.result(
          Future.sequence(es.map(e => Future(cycle(e)))), Duration.Inf)
        finally pool.shutdown()
      }
    // same metadata bound as the loader: each non-skip cycle adds two
    // watermark versions (open + close)
    config.vacuumControlPlane()
    results
  }
}
