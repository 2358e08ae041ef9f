package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.graftbridge.LocalWriteBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{ConfigStore, Entity}
import graft.sources.GraftTable

/** The driver-side control-plane writer must be INDISTINGUISHABLE from
  * the Spark write command it replaces: same read-back values, same
  * parquet-level schema (nullability, timestamp encoding), and the
  * funnel-enforced features (CHECKs) must still route through the full
  * funnel.
  */
class LocalWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("LocalWriteBridge read-back matches df.write.parquet bit-for-bit") {
    val tmp = Files.createTempDirectory("graft-lw").toString
    val rows = Seq(
      Row(1L, 2L, Timestamp.valueOf("2024-03-01 10:30:00"), null,
        Timestamp.valueOf("2024-03-01 10:30:01"), null),
      Row(2L, 2L, null, Long.box(77L),
        Timestamp.valueOf("2024-03-02 00:00:00"),
        Timestamp.valueOf("2024-03-02 00:00:05")))
    val schema = Seq.empty[graft.pipeline.WatermarkRecord].toDF(
      "WatermarkId", "EntityId", "DateWatermark", "CTWatermark",
      "LoadStartDatetime", "LoadEndDatetime").schema
    // Spark path
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
      .coalesce(1).write.parquet(s"$tmp/spark")
    // local path
    Files.createDirectories(java.nio.file.Paths.get(s"$tmp/local"))
    LocalWriteBridge.writeRows(spark,
      java.nio.file.Paths.get(s"$tmp/local/part-00000-x-c000.snappy.parquet"),
      schema, rows)
    val a = spark.read.parquet(s"$tmp/spark")
    val b = spark.read.parquet(s"$tmp/local")
    // parquet-level schema (inferred from footers) identical
    assert(a.schema === b.schema)
    assert(a.collect().toSet === b.collect().toSet)
    // file uses the session codec like the Spark path
    val f = new java.io.File(s"$tmp/local").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(f.nonEmpty)
  }

  test("writeLocalRows lands a manifest entry equal to the funnel's") {
    val tmp = Files.createTempDirectory("graft-lw2").toString
    val t = GraftTable(spark, s"$tmp/t")
    val schema = Seq.empty[(Long, String)].toDF("id", "v").schema
    val rows = Seq(Row(5L, "a"), Row(6L, "b"))
    val files = t.writeLocalRows(schema, rows, Seq("id"))
    assert(files.length === 1)
    assert(files.head.rows === 2L)
    // footer stats present on the wanted column (merge pruning depends
    // on these)
    assert(files.head.min.contains("5") && files.head.max.contains("6"))
    t.commit(schema, files, None, op = "write")
    assert(t.snapshot.collect().toSet ===
      Set(Row(5L, "a"), Row(6L, "b")))
  }

  test("writeLocalRows falls back to the funnel under CHECK constraints") {
    val tmp = Files.createTempDirectory("graft-lw3").toString
    val t = GraftTable(spark, s"$tmp/t")
    t.overwrite(Seq((1L, "x")).toDF("id", "v"), Some("id"))
    t.addCheck("pos", "id > 0")
    val schema = Seq.empty[(Long, String)].toDF("id", "v").schema
    // violating row must be REFUSED (proves the funnel ran)
    val e = intercept[Exception] {
      t.writeLocalRows(schema, Seq(Row(-1L, "bad")), Seq("id"))
    }
    assert(e.getMessage != null)
    // conforming row lands fine through the fallback
    val files = t.writeLocalRows(schema, Seq(Row(9L, "ok")), Seq("id"))
    assert(files.head.rows === 1L)
  }

  test("ConfigStore open/close round-trip through the local writer") {
    val tmp = Files.createTempDirectory("graft-lw4").toString
    val cs = new ConfigStore(spark, s"$tmp/control")
    cs.registerEntities(Seq(Entity(
      1L, "e", "db.e", "src", "silver", "CT", None, "id")))
    val id = cs.openWatermark(1L, "CT", "5")
    // open: visible with NULL end (ignored by the cursor read)
    val open = cs.watermarksDf.where(s"WatermarkId = $id").collect()
    assert(open.length === 1)
    assert(open.head.getAs[Long]("CTWatermark") === 5L)
    assert(open.head.isNullAt(open.head.fieldIndex("LoadEndDatetime")))
    cs.closeWatermark(id)
    val closed = cs.watermarksDf.where(s"WatermarkId = $id").collect()
    assert(closed.length === 1)
    assert(!closed.head.isNullAt(closed.head.fieldIndex("LoadEndDatetime")))
    // TMSTP flavor round-trips its timestamp value
    val id2 = cs.openWatermark(1L, "TMSTP", "2024-05-01 12:00:00")
    val w2 = cs.watermarksDf.where(s"WatermarkId = $id2").collect().head
    assert(w2.getAs[Timestamp]("DateWatermark") ===
      Timestamp.valueOf("2024-05-01 12:00:00"))
  }

  test("a dropped and re-added CTWatermark keeps the opened value through the close") {
    val tmp = Files.createTempDirectory("graft-lw5").toString
    val cs = new ConfigStore(spark, s"$tmp/control")
    cs.registerEntities(Seq(Entity(
      1L, "e", "db.e", "src", "silver", "CT", None, "id")))
    cs.closeWatermark(cs.openWatermark(1L, "CT", "5"))
    cs.watermarksTable.dropColumn("CTWatermark")
    cs.watermarksTable.addColumn("CTWatermark", "BIGINT")
    assert(cs.watermarksTable.latestManifest.get.mapping.get("CTWatermark")
      .contains("CTWatermark_2"))
    cs.closeWatermark(cs.openWatermark(1L, "CT", "42"))
    assert(cs.entitiesWithWatermarks().select("Watermark").collect()
      .map(_.getString(0)).toSeq === Seq("42"))
  }
}
