package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftTable
import graft.streaming.StreamingSilverLoader

class StreamingLoaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val feedSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("SYS_CHANGE_VERSION", LongType),
    StructField("SYS_CHANGE_OPERATION", StringType)))

  test("continuous change feed merges into silver across micro-batches") {
    val tmp = Files.createTempDirectory("graft-sloader").toString
    val feed = s"$tmp/feed"
    val target = GraftTable(spark, s"$tmp/silver")
    val loader = new StreamingSilverLoader(
      spark, s"$feed/*.parquet", feedSchema, target, Seq("id"), s"$tmp/ckpt")

    // batch 1: initial inserts
    Seq((1L, "a", 1L, "I"), (2L, "b", 1L, "I"))
      .toDF("id", "name", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION")
      .write.parquet(s"$feed/b1.parquet")
    val q = loader.start()
    try {
      q.processAllAvailable()
      assert(target.snapshot.count() == 2)

      // batch 2: update 2, insert 3, delete 1; plus two changes for one
      // key in the same batch (later version must win)
      Seq((2L, "B", 2L, "U"), (3L, "c", 2L, "I"), (1L, null, 2L, "D"),
        (3L, "c-final", 3L, "U"))
        .toDF("id", "name", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION")
        .write.parquet(s"$feed/b2.parquet")
      q.processAllAvailable()

      val got = target.snapshot.select("id", "name").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((2L, "B"), (3L, "c-final")),
        s"expected delete of 1, update of 2, last-version insert of 3; got $got")
    } finally q.stop()

    // restart from the checkpoint: no reprocessing, then new data flows
    Seq((4L, "d", 4L, "I"))
      .toDF("id", "name", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION")
      .write.parquet(s"$feed/b3.parquet")
    val q2 = loader.start()
    try {
      q2.processAllAvailable()
      assert(target.snapshot.count() == 3)
      assert(target.snapshot.filter(col("id") === 4L).count() == 1)
    } finally q2.stop()
  }

  test("chained NRT: loader's merges feed a downstream change-stream consumer") {
    val tmp = Files.createTempDirectory("graft-chain").toString
    val feed = s"$tmp/feed"
    val target = GraftTable(spark, s"$tmp/silver")
    val loader = new StreamingSilverLoader(
      spark, s"$feed/*.parquet", feedSchema, target, Seq("id"), s"$tmp/ckpt",
      publishChangeFeed = true)

    Seq((1L, "a", 1L, "I"), (2L, "b", 1L, "I"))
      .toDF("id", "name", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION")
      .write.parquet(s"$feed/b1.parquet")
    val up = loader.start()
    try {
      up.processAllAvailable() // v1: first load publishes the initial snapshot
      Seq((2L, "B", 2L, "U"), (3L, "c", 2L, "I"))
        .toDF("id", "name", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION")
        .write.parquet(s"$feed/b2.parquet")
      up.processAllAvailable() // v2: merge WITH published change feed

      // downstream hop: tail the SILVER table's change stream — the
      // bronze→silver→gold chain without rescanning silver per cycle.
      // The initial snapshot is in the feed (v1 inserts), so a hop
      // bootstrapped from the stream alone reconstructs the full table.
      val down = target.readChangeStream()
        .writeStream.outputMode("append")
        .format("memory").queryName("chain_out").start()
      try down.processAllAvailable() finally down.stop()
      val got = spark.table("chain_out")
        .select("id", "name", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set(
        (1L, "a", "insert"), (2L, "b", "insert"), // v1 initial snapshot
        (2L, "b", "update_preimage"),             // v2 merge, both images
        (2L, "B", "update_postimage"), (3L, "c", "insert")),
        s"downstream must see the initial snapshot plus the merge's changes; got $got")
    } finally up.stop()
  }

  test("replayed micro-batch is skipped: no duplicate merge, no duplicate feed") {
    val tmp = Files.createTempDirectory("graft-txn").toString
    val target = GraftTable(spark, s"$tmp/silver")
    val loader = new StreamingSilverLoader(
      spark, s"$tmp/feed/*.parquet", feedSchema, target, Seq("id"), s"$tmp/ckpt",
      publishChangeFeed = true)
    def batchDf(rows: Seq[(Long, String, Long, String)]) =
      rows.toDF("id", "name", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION")
    loader.mergeBatch(batchDf(Seq((1L, "a", 1L, "I"))), batchId = 0L) // v1 overwrite
    loader.mergeBatch(batchDf(Seq((2L, "b", 2L, "I"))), batchId = 1L) // v2 merge + feed
    assert(target.latestVersion.contains(2L))
    assert(target.changeFeedVersions == Seq(1L, 2L))
    val published = target.changeFeed(2).collect().toSet
    // the crash also lost batch 1's feed publication (it landed between
    // the merge commit and the publication)
    val lost = java.nio.file.Paths.get(tmp, "silver", "_changes", f"v${2L}%020d")
    val walk = Files.walk(lost)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    finally walk.close()
    assert(target.changeFeedVersions == Seq(1L))
    // crash-replay of batch 1: foreachBatch re-delivers the same batchId
    loader.mergeBatch(batchDf(Seq((2L, "b", 2L, "I"))), batchId = 1L)
    assert(target.latestVersion.contains(2L), "replay must not commit a new version")
    assert(target.changeFeedVersions == Seq(1L, 2L),
      "replay must heal the lost publication, and publish nothing twice")
    assert(target.changeFeed(2).collect().toSet == published)
    // a genuinely new batch still flows
    loader.mergeBatch(batchDf(Seq((3L, "c", 3L, "I"))), batchId = 2L)
    assert(target.latestVersion.contains(3L))
    assert(target.changeFeedVersions == Seq(1L, 2L, 3L))
  }
}
