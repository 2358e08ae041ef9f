package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ControlQueries
import graft.sources.GraftTable

/** A registered source→target table mapping with sync metadata —
  * mirrors dbo.Entities (/root/reference/dbrconfig.sql:20-31).
  */
case class Entity(
    entityId: Long,
    fromEntityName: String,
    toEntityName: String,
    fromZone: String,
    toZone: String,
    watermarkType: String, // 'CT' | 'TMSTP'
    timestampColumn: Option[String],
    primaryKeys: String) { // comma-separated, as in the reference
  def pkCols: Seq[String] = primaryKeys.split(",").map(_.trim).toSeq
  /** ref COPY_MSQL_TO_SILVER.py:115-117 — '<db>.<table>' path derivation. */
  def dbAndTable: (String, String) = toEntityName.split("\\.") match {
    case Array(db, tbl) => (db, tbl)
    case _ => ("default", toEntityName)
  }
}

/** One load's progress record — mirrors dbo.Watermarks
  * (/root/reference/dbrconfig.sql:33-43). A row with loadEndDatetime=None
  * is an *open* (uncommitted) load and is ignored by the orchestration
  * query; the open→extract→write→close protocol plus idempotent merge
  * gives effectively-once loads (SURVEY §2.9).
  */
case class WatermarkRecord(
    watermarkId: Long,
    entityId: Long,
    dateWatermark: Option[Timestamp],
    ctWatermark: Option[Long],
    loadStartDatetime: Timestamp,
    loadEndDatetime: Option[Timestamp])

/** Parquet-backed control plane: the Entities + Watermarks tables and the
  * OpenWatermark / CloseWatermark procedures
  * (/root/reference/dbrconfig.sql:45-83, 85-91), re-expressed on
  * [[GraftTable]] so control state gets the same atomic-commit guarantees
  * as data. Control tables are tiny; every read broadcasts.
  */
class ConfigStore(spark: SparkSession, root: String) {
  import spark.implicits._

  val entitiesTable = GraftTable(spark, s"$root/entities")
  val watermarksTable = GraftTable(spark, s"$root/watermarks")

  /** The exact schema `Seq[WatermarkRecord].toDF(names)` produces
    * (encoder-derived nullability), computed once driver-side — the
    * local write path below must land files/manifests bit-identical to
    * the Spark-write path it replaces.
    */
  private lazy val watermarkSchema: org.apache.spark.sql.types.StructType =
    Seq.empty[WatermarkRecord].toDF(
      "WatermarkId", "EntityId", "DateWatermark", "CTWatermark",
      "LoadStartDatetime", "LoadEndDatetime").schema

  def registerEntities(es: Seq[Entity]): Unit = {
    val df = es.toDF(
      "EntityId", "FromEntityName", "ToEntityName", "FromZone", "ToZone",
      "WatermarkType", "TimestampColumn", "PrimaryKeys").coalesce(1)
    if (entitiesTable.exists) entitiesTable.append(df) else entitiesTable.overwrite(df)
  }

  def entities: Seq[Entity] =
    entitiesTable.snapshot
      .select("EntityId", "FromEntityName", "ToEntityName", "FromZone", "ToZone",
        "WatermarkType", "TimestampColumn", "PrimaryKeys")
      .collect()
      .map(r => Entity(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), Option(r.getString(6)), r.getString(7)))
      .toSeq

  /** dbo.OpenWatermark (dbrconfig.sql:45-83): allocate the next id and
    * record the *new* watermark value with an open (NULL end) load window.
    * Returns the allocated WatermarkId (the proc's SCOPE_IDENTITY()).
    *
    * Id allocation is CROSS-PROCESS unique with no coordinator: the id
    * IS the manifest version this append wins. The table's commit is a
    * hard-link put-if-absent — exactly one writer can create version N —
    * so the record carrying WatermarkId=N is committed if and only if
    * this process owns version N; a loser re-renders the record with the
    * next candidate id and retries. (The reference got the same property
    * from SQL Server's identity column, dbrconfig.sql:66.)
    */
  def openWatermark(entityId: Long, watermarkType: String, watermark: String): Long = {
    val now = new Timestamp(System.currentTimeMillis())
    def record(id: Long) =
      if (watermarkType == "CT")
        WatermarkRecord(id, entityId, None, Some(watermark.toLong), now, None)
      else
        WatermarkRecord(id, entityId, Some(Timestamp.valueOf(watermark + (if (watermark.length <= 10) " 00:00:00" else ""))), None, now, None)
    watermarksTable.optimisticCommit() { base =>
      // id = the version this attempt would land, so a lost race
      // re-renders the record (the orphaned data file is vacuumed later)
      val r = record(base.map(_.version).getOrElse(0L) + 1L)
      // control writes are ONE row: the driver-side local writer skips
      // the ~100-150 ms Spark write command entirely (the protocol pays
      // two control writes per load cycle — at NRT cadence that fixed
      // overhead IS the control plane's cost)
      val files = watermarksTable.writeLocalRows(
        watermarkSchema,
        Seq(org.apache.spark.sql.Row(
          r.watermarkId, r.entityId, r.dateWatermark.orNull,
          r.ctWatermark.map(Long.box).orNull,
          r.loadStartDatetime, r.loadEndDatetime.orNull)),
        Nil)
      watermarksTable.commitAppend(base, base, watermarkSchema, files)
      r.watermarkId
    }
  }

  /** dbo.CloseWatermark (dbrconfig.sql:85-91): stamp LoadEndDatetime —
    * a collect of the whole control table and a one-file overwrite.
    */
  def closeWatermark(watermarkId: Long): Unit = synchronized {
    // read-modify-overwrite of the control table, committed
    // against the SAME version the modification read (a plain
    // `overwrite(snapshot...)` re-resolves the base at commit time, so a
    // concurrent open landing between read and commit would be silently
    // erased). A lost race re-reads and retries; each watermark id is
    // touched by one loader, so retries commute. (The data path uses
    // the real merge — see SilverLoader.)
    watermarksTable.optimisticCommit() { at =>
      val base = at.getOrElse(
        throw new IllegalStateException(s"closeWatermark($watermarkId) before any open"))
      // collect the table (vacuum bounds its versions, not its rows, so
      // this is O(watermarks ever opened)), stamp the close driver-side,
      // land ONE file through the local writer — one small read job
      val schema = org.apache.spark.sql.types.StructType.fromDDL(base.schema)
      val idIdx = schema.fieldIndex("WatermarkId")
      val endIdx = schema.fieldIndex("LoadEndDatetime")
      val stamp = new Timestamp(System.currentTimeMillis())
      val updatedRows = watermarksTable.snapshotAt(base.version).collect()
        .toSeq.map { r =>
          if (!r.isNullAt(idIdx) && r.getLong(idIdx) == watermarkId)
            org.apache.spark.sql.Row.fromSeq(
              r.toSeq.updated(endIdx, stamp))
          else r
        }
      val files = watermarksTable.writeLocalRows(schema, updatedRows, Nil)
      // the rows land under the base's column mapping, so it stays
      watermarksTable.commit(schema, files, Some(base.version), op = "overwrite",
        mappingOverride = Some((base.mapping, base.retired.getOrElse(Nil))))
    }
  }

  /** Bound control-plane metadata growth (called by SilverLoader.run
    * after each cycle): every load adds TWO watermark versions (open +
    * close), so a month of NRT cadence unchecked is ~10⁴ manifests —
    * and every manifest listing pays for it. Manifest dropping is
    * unconditional below the keep horizon; data files additionally
    * respect `minAgeMs` (protects a concurrent process mid-open, whose
    * record file has landed but whose commit may still be rebasing).
    * Watermark ids never reuse (they are manifest versions, which only
    * advance), so dropping old versions cannot collide future opens.
    */
  def vacuumControlPlane(keepVersions: Int = 64, minAgeMs: Long = 3600000L): Unit = {
    if (watermarksTable.exists) watermarksTable.vacuum(keepVersions, minAgeMs)
    if (entitiesTable.exists) entitiesTable.vacuum(keepVersions, minAgeMs)
  }

  /** Watermarks as a DataFrame; empty (typed) before the first load. */
  def watermarksDf: DataFrame =
    if (watermarksTable.exists) watermarksTable.snapshot
    else Seq.empty[WatermarkRecord].toDF(
      "WatermarkId", "EntityId", "DateWatermark", "CTWatermark",
      "LoadStartDatetime", "LoadEndDatetime")

  /** EP1 (ref COPY_MSQL_TO_SILVER.py:223-250): entities with their latest
    * closed watermark, string-rendered and defaulted.
    */
  def entitiesWithWatermarks(): DataFrame =
    ControlQueries.entitiesWithWatermarks(entitiesTable.snapshot, watermarksDf)
}
