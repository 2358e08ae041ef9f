package nrtbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.MergeBuilder
import graft.pipeline.{ConfigStore, Entity, LoadResult, SilverLoader}
import graft.sources.GraftTable

// Spans around the engine's public calls, taken from outside by
// subclassing. With the tracer disabled every override is a plain call,
// so the untraced run executes the engine's own code paths unchanged.

/** ConfigStore whose public methods each open a `controlplane.*` span. */
final class TracedConfigStore(spark: SparkSession, root: String, t: Tracer)
    extends ConfigStore(spark, root) {

  override def entities: Seq[Entity] = t.span("controlplane.entities")(super.entities)

  /** The loader collects this frame right away; traced, the collect runs
    * inside the span (so its jobs are charged to the control plane) and
    * the loader gets the collected rows back as a local frame.
    */
  override def entitiesWithWatermarks(): DataFrame =
    if (!t.enabled) super.entitiesWithWatermarks()
    else t.span("controlplane.entities_with_watermarks") {
      val df = super.entitiesWithWatermarks()
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }

  override def openWatermark(entityId: Long, watermarkType: String, watermark: String): Long =
    t.span("controlplane.open_watermark")(super.openWatermark(entityId, watermarkType, watermark))

  override def closeWatermark(watermarkId: Long): Unit =
    t.span("controlplane.close_watermark")(super.closeWatermark(watermarkId))

  override def vacuumControlPlane(keepVersions: Int, minAgeMs: Long): Unit =
    t.span("controlplane.vacuum")(super.vacuumControlPlane(keepVersions, minAgeMs))
}

/** GraftTable whose merges and overwrites open `merge` / `table.overwrite`
  * spans carrying the files and bytes the commit added and removed.
  */
final class TracedTable(spark: SparkSession, root: String, t: Tracer)
    extends GraftTable(spark, root) {

  override def merge(source: DataFrame, pkCols: Seq[String]): MergeBuilder =
    if (!t.enabled) super.merge(source, pkCols)
    else new MergeBuilder(this, source, pkCols) {
      override def execute(): Long = t.span("merge") {
        val before = liveFiles()
        val v = super.execute()
        TracedTable.recordDiff(t, before, liveFiles())
        v
      }
    }

  override def overwriteStats(
      dfIn: DataFrame, statsCols: Seq[String], txn: Option[String],
      txnApp: Option[String]): Long =
    t.span("table.overwrite") {
      val before = if (t.enabled) liveFiles() else Map.empty[String, graft.sources.ManifestFile]
      val v = super.overwriteStats(dfIn, statsCols, txn, txnApp)
      if (t.enabled) TracedTable.recordDiff(t, before, liveFiles())
      v
    }

  private def liveFiles(): Map[String, graft.sources.ManifestFile] =
    latestManifest.map(m => filesOf(m).map(f => f.path -> f).toMap).getOrElse(Map.empty)
}

object TracedTable {
  private def recordDiff(
      t: Tracer, before: Map[String, graft.sources.ManifestFile],
      after: Map[String, graft.sources.ManifestFile]): Unit = {
    val added = after.keySet -- before.keySet
    val removed = before.keySet -- after.keySet
    t.attr("files_added", added.size)
    t.attr("files_removed", removed.size)
    t.attr("bytes_written", added.toSeq.map(after(_).bytes.getOrElse(0L)).sum.toDouble)
    t.attr("rows_in_removed", removed.toSeq.map(before(_).rows).sum.toDouble)
  }
}

/** SilverLoader that tells the workload when each entity's load returned
  * (the moment its changes are readable) and, traced, opens the
  * `silverloader.*` spans; its silver tables are [[TracedTable]]s.
  */
final class BenchLoader(
    spark: SparkSession, config: ConfigStore, srcRoot: String, silverRoot: String,
    t: Tracer, onLoaded: (Entity, LoadResult, Long) => Unit)
    extends SilverLoader(spark, config, srcRoot, silverRoot,
      correctedDeletes = true, registerInCatalog = true, publishChangeFeed = true) {

  @volatile private var runSpan = 0L

  override def run(parallelism: Int): Seq[LoadResult] =
    t.span("silverloader.run") {
      runSpan = t.current
      super.run(parallelism)
    }

  override def loadEntity(e: Entity, oldWatermark: String): LoadResult = {
    val r = t.spanUnder(runSpan, "silverloader.load_entity") {
      val r = super.loadEntity(e, oldWatermark)
      t.attr("rows", r.rowsExtracted.toDouble)
      t.attr("moved", if (r.action != "skip") 1.0 else 0.0)
      r
    }
    onLoaded(e, r, System.nanoTime())
    r
  }

  override def silverTable(e: Entity): GraftTable = {
    val (db, tbl) = e.dbAndTable
    new TracedTable(spark, s"$silverRoot/$db.$tbl", t)
  }
}

/** The benchmark's reporting reads through `spark.sql`, timed. Traced,
  * each opens a `read.lookup` / `read.scan` span and hands its
  * QueryExecution to the [[ReadListener]]; `traced` keeps them, with the
  * table's file count at issue time, for the end-of-run report.
  */
final class Reads(spark: SparkSession, t: Tracer, listener: ReadListener) {
  val traced = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, org.apache.spark.sql.execution.QueryExecution, Long)]()

  /** Run `sql`; returns its rows and its latency in seconds. */
  def run(kind: String, sql: String, filesInTable: => Long): (Array[Row], Double) =
    t.span(s"read.$kind") {
      val files = if (t.enabled) filesInTable else 0L
      val t0 = System.nanoTime()
      val df = spark.sql(sql)
      if (t.enabled) {
        listener.want(df.queryExecution)
        traced.add((kind, df.queryExecution, files))
      }
      val rows = df.collect()
      (rows, (System.nanoTime() - t0) / 1e9)
    }
}
