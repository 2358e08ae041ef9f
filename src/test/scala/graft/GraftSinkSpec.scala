package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftSink, GraftTable}

/** The native streaming sink must produce the same versioned, stats-
  * carrying, txn-marked commits as the batch API, across appends,
  * upserts, restarts and replays.
  */
class GraftSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("append sink: versioned commits, change feed, restart-safe") {
    val tmp = Files.createTempDirectory("graft-sink").toString
    val root = s"$tmp/table"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$tmp/feed/b1.parquet")
    val q = spark.readStream.schema(schema).parquet(s"$tmp/feed/*.parquet")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$tmp/ckpt")
      .option("txnAppId", "sink-spec").option("stats", "id")
      .option("changeFeed", "true")
      .start(root)
    val t = GraftTable(spark, root)
    try {
      q.processAllAvailable()
      assert(t.snapshot.count() == 2)
      assert(t.history.map(_.operation) == Seq("overwrite"))
      Seq((3L, "c")).toDF("id", "v").write.parquet(s"$tmp/feed/b2.parquet")
      q.processAllAvailable()
      assert(t.snapshot.count() == 3)
      assert(t.history.map(_.operation) == Seq("append", "overwrite"))
      // stats landed (merge pruning works downstream)
      assert(t.latestManifest.get.files.forall(_.ranges.exists(_.contains("id"))))
      // the feed is a complete tail: initial snapshot + appended batch
      assert(t.changeFeed(1).count() == 3)
    } finally q.stop()

    // restart from the checkpoint: nothing re-ingested, new data flows
    Seq((4L, "d")).toDF("id", "v").write.parquet(s"$tmp/feed/b3.parquet")
    val q2 = spark.readStream.schema(schema).parquet(s"$tmp/feed/*.parquet")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$tmp/ckpt")
      .option("txnAppId", "sink-spec").option("stats", "id")
      .option("changeFeed", "true")
      .start(root)
    try {
      q2.processAllAvailable()
      assert(t.snapshot.count() == 4)
      assert(t.snapshot.select("id").as[Long].collect().toSet ==
        Set(1L, 2L, 3L, 4L))
    } finally q2.stop()

    // an at-least-once replay of a committed batch id is a no-op
    val sink = new GraftSink(spark, root,
      Map("txnAppId" -> "sink-spec", "stats" -> "id"), OutputMode.Append())
    val vBefore = t.latestVersion
    sink.addBatch(0, Seq((1L, "dup")).toDF("id", "v"))
    assert(t.latestVersion == vBefore, "replayed batch must be skipped")
    assert(t.snapshot.filter($"v" === "dup").count() == 0)
  }

  test("pk option: streaming upsert (merge per batch)") {
    val tmp = Files.createTempDirectory("graft-sinkpk").toString
    val root = s"$tmp/table"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$tmp/feed/b1.parquet")
    val q = spark.readStream.schema(schema).parquet(s"$tmp/feed/*.parquet")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$tmp/ckpt")
      .option("pk", "id")
      .start(root)
    val t = GraftTable(spark, root)
    try {
      q.processAllAvailable()
      // write OUTSIDE the watched glob, then one atomic move in — the
      // stream otherwise races the multi-file write and can split the
      // batch across two micro-batches (two merge commits, same data)
      Seq((2L, "B"), (3L, "c")).toDF("id", "v")
        .write.parquet(s"$tmp/stage-b2")
      Files.move(java.nio.file.Paths.get(s"$tmp/stage-b2"),
        java.nio.file.Paths.get(s"$tmp/feed/b2.parquet"))
      q.processAllAvailable()
      assert(t.snapshot.orderBy("id").collect().map(r =>
        r.getLong(0) -> r.getString(1)).toSeq ==
        Seq(1L -> "a", 2L -> "B", 3L -> "c"))
      assert(t.history.map(_.operation) == Seq("merge", "overwrite"))
    } finally q.stop()
  }

  test("Complete output mode overwrites each batch") {
    val tmp = Files.createTempDirectory("graft-sinkc").toString
    val root = s"$tmp/table"
    val sink = new GraftSink(spark, root,
      Map("stats" -> "id"), OutputMode.Complete())
    sink.addBatch(0, Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    sink.addBatch(1, Seq((1L, "x2")).toDF("id", "v"))
    val t = GraftTable(spark, root)
    assert(t.snapshot.collect().map(_.getString(1)).toSeq == Seq("x2"))
    assert(t.history.map(_.operation) == Seq("overwrite", "overwrite"))
  }

  test("fresh checkpoint = fresh replay identity: new stream's batch 0 lands") {
    val tmp = Files.createTempDirectory("graft-sinkid").toString
    val root = s"$tmp/table"
    // stream 1 (no txnAppId — identity comes from its checkpoint)
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$tmp/feed1/b1.parquet")
    val q1 = spark.readStream.schema(schema).parquet(s"$tmp/feed1/*.parquet")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$tmp/ckptA").start(root)
    try q1.processAllAvailable() finally q1.stop()
    val t = GraftTable(spark, root)
    assert(t.snapshot.count() == 1)
    // stream 2: DIFFERENT checkpoint, batchIds restart at 0 — its batch 0
    // must append, not be discarded as stream 1's "replay"
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$tmp/feed2/b1.parquet")
    val q2 = spark.readStream.schema(schema).parquet(s"$tmp/feed2/*.parquet")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$tmp/ckptB").start(root)
    try q2.processAllAvailable() finally q2.stop()
    assert(t.snapshot.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("table-root appId fallback fails loudly on marker collision") {
    val tmp = Files.createTempDirectory("graft-sinkroot").toString
    val root = s"$tmp/table"
    // neither txnAppId nor checkpointLocation: identity degrades to root
    new GraftSink(spark, root, Map.empty, OutputMode.Append())
      .addBatch(0, Seq((1L, "a")).toDF("id", "v"))
    // a SECOND identity-less stream restarts batchIds at 0 — discarding
    // its batch would silently lose data, so the sink must refuse
    val e = intercept[IllegalStateException] {
      new GraftSink(spark, root, Map.empty, OutputMode.Append())
        .addBatch(0, Seq((2L, "b")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("txnAppId"))
  }

  test("replay after crash-before-snapshot publishes the feed's v1") {
    val tmp = Files.createTempDirectory("graft-sinkcdf").toString
    val root = s"$tmp/table"
    val t = GraftTable(spark, root)
    // simulate: batch 0's commit landed (txn marker recorded) but the
    // process died BEFORE publishInitialSnapshot
    t.overwriteStats(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
      txn = Some("appX:0"), txnApp = Some("appX"))
    assert(t.changeFeedVersions.isEmpty)
    // the restarted stream replays batch 0: skipped as a commit, but the
    // missing initial snapshot must be published
    new GraftSink(spark, root,
      Map("txnAppId" -> "appX", "changeFeed" -> "true"), OutputMode.Append())
      .addBatch(0, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(t.changeFeedVersions == Seq(1L))
    assert(t.changeFeed(1).count() == 2)
  }

  test("pk replay heals the lost feed publication of a merge version") {
    val tmp = Files.createTempDirectory("graft-sinkpkcdf").toString
    val root = s"$tmp/table"
    val t = GraftTable(spark, root)
    def sink = new GraftSink(spark, root,
      Map("txnAppId" -> "appP", "pk" -> "id", "changeFeed" -> "true"),
      OutputMode.Append())
    val batch1 = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    sink.addBatch(0, Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // v1 bootstrap
    sink.addBatch(1, batch1) // v2 merge
    assert(t.changeFeedVersions == Seq(1L, 2L))
    def feedV2 = t.changeFeed(2).collect().toSet
    val published = feedV2
    // simulate: batch 1's merge committed, then the process died BEFORE
    // its change-feed publication
    val lost = java.nio.file.Paths.get(root, "_changes", f"v${2L}%020d")
    val walk = Files.walk(lost)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    finally walk.close()
    assert(t.changeFeedVersions == Seq(1L))
    // the restarted stream replays batch 1: no new commit, and the
    // missing v2 publication is recomputed from the landed version
    sink.addBatch(1, batch1)
    assert(t.latestVersion.contains(2L), "replay must not commit a new version")
    assert(t.changeFeedVersions == Seq(1L, 2L))
    assert(feedV2 == published)
  }
}
