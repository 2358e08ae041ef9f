package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftTable

/** Stored change feed (Delta CDF + readStream parity): merges run with
  * `.withChangeFeed()` land row-level changes under `_changes/`, batch
  * readers slice by commit version, and a file-source stream tails the
  * directory across commits.
  */
class ChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-cdf").toString

  test("stored change feed equals the after-the-fact version diff") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), Some("id"))
    t.merge(
      Seq((2L, "b2", "U"), (4L, "d", "I"), (3L, "c", "D"))
        .toDF("id", "v", "op"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .whenMatchedDelete("op = 'D'")
      .withChangeFeed().execute()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v", "_change_type").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
    val stored = canon(t.changeFeed(sinceVersion = 2))
    val diffed = canon(t.changesBetween(1, 2, Seq("id")))
    assert(stored == diffed)
    assert(stored.exists(_._3 == "insert") && stored.exists(_._3 == "delete") &&
      stored.exists(_._3 == "update_preimage") &&
      stored.exists(_._3 == "update_postimage"))
    // the commit version rides every stored row
    assert(t.changeFeed(2).select("_commit_version").distinct().head().getLong(0) == 2L)
  }

  test("append publishes its batch to the feed as zero-copy inserts") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a")).toDF("id", "v"), Some("id"))          // v1, no feed
    t.appendWithChangeFeed(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), Seq("id")) // v2
    t.merge(Seq((1L, "a2"), (4L, "d")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute()                                     // v3
    val feed = t.changeFeed(sinceVersion = 1)
      .select("id", "v", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(feed == Set(
      (2L, "b", "insert", 2L), (3L, "c", "insert", 2L),
      (1L, "a", "update_preimage", 3L),
      (1L, "a2", "update_postimage", 3L), (4L, "d", "insert", 3L)))
    // zero-copy: the append's change files are hard links to its data
    // files (same inode), not copies
    val changes = java.nio.file.Paths.get(t.root, "_changes")
    val linked = java.nio.file.Files.walk(changes)
    val linkInodes = try linked.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .filter(p => p.getParent.getFileName.toString.endsWith("2")) // v2 dir
      .map(p => java.nio.file.Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
      .toSet
    finally linked.close()
    val dataWalk = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "data"))
    val dataInodes = try dataWalk.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => java.nio.file.Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
      .toSet
    finally dataWalk.close()
    assert(linkInodes.nonEmpty && linkInodes.subsetOf(dataInodes),
      "append change files must be hard links into data/")
    // the streaming tail sees both the appended and the merged rows
    val q = t.readChangeStream()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdf_append_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("cdf_append_out")
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == Set((2L, "insert"), (3L, "insert"),
      (1L, "update_preimage"), (1L, "update_postimage"), (4L, "insert")))
  }

  test("change stream tails changes across successive merges") {
    val t = GraftTable(spark, tmp())
    t.overwrite((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"), Some("id"))
    t.merge(Seq((1L, "u1"), (11L, "n11")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v2
    val q = t.readChangeStream()
      .writeStream.outputMode("append")
      .format("memory").queryName("cdf_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_out").count() == 3) // update = pre+post, insert
      // a merge landing AFTER the stream started is picked up too
      t.merge(Seq((2L, "u2")).toDF("id", "v"), Seq("id"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll()
        .withChangeFeed().execute() // v3
      q.processAllAvailable()
      val rows = spark.table("cdf_out")
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        (1L, "update_preimage", 2L), (1L, "update_postimage", 2L),
        (11L, "insert", 2L),
        (2L, "update_preimage", 3L), (2L, "update_postimage", 3L)))
    } finally q.stop()
  }

  test("repairChangeFeed backfills a version lost in the commit-publish window") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Some("id"))
    t.merge(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v2
    t.merge(Seq((1L, "a3")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v3
    val before = t.changeFeed(2).select("id", "v", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    // simulate the crash window: v2 committed but its publication lost
    val v2dir = java.nio.file.Paths.get(t.root, "_changes", f"v${2L}%020d")
    val walk = java.nio.file.Files.walk(v2dir)
    try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    finally walk.close()
    assert(t.changeFeedVersions == Seq(3L))
    // backfills BOTH gaps: the crash-lost v2 and the never-published
    // initial snapshot v1
    val (repaired, unrepairable) = t.repairChangeFeed(Seq("id"))
    assert(repaired == Seq(1L, 2L) && unrepairable.isEmpty)
    val after = t.changeFeed(2).select("id", "v", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(after == before, s"repaired feed must equal the lost original: $after vs $before")
    assert(t.changeFeed(1).filter(col("_commit_version") === 1L).count() == 2)
    // idempotent: nothing left to backfill
    assert(t.repairChangeFeed(Seq("id"))._1.isEmpty)
  }

  test("repairing a contiguous gap run reuses snapshots: 5 gaps cost ≤6 manifest reads") {
    val root = tmp()
    val t = GraftTable(spark, root)
    t.overwrite(Seq((1L, "a")).toDF("id", "v"), Some("id"))
    t.publishInitialSnapshot()
    (2 to 7).foreach { i =>
      t.merge(Seq((i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll()
        .withChangeFeed().execute()
    }
    // lose v2..v6's publications (v1 and v7 stay intact)
    (2L to 6L).foreach { v =>
      val dir = java.nio.file.Paths.get(root, "_changes", f"v$v%020d")
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
    val ct = new CountingTable(root)
    val (repaired, unrep) = ct.repairChangeFeed(Seq("id"))
    assert(repaired == Seq(2L, 3L, 4L, 5L, 6L) && unrep.isEmpty)
    assert(ct.manifestReads <= 6,
      s"a contiguous run of 5 gaps must read ≤6 manifests/snapshots " +
        s"(each gap's after-image is the next one's pre-image), read ${ct.manifestReads}")
    // and every repaired version equals its relational diff
    (2L to 6L).foreach { v =>
      val got = ct.changeFeed(v).filter(col("_commit_version") === v)
        .select("id", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val want = ct.changesBetween(v - 1, v, Seq("id"))
        .select("id", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == want, s"repaired v$v must match the snapshot diff")
    }
  }

  test("repair publishes nothing for versions whose recomputed diff is empty") {
    val t = GraftTable(spark, tmp())
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    t.overwrite(df, Some("id")) // v1
    t.overwrite(df, Some("id")) // v2 — identical contents, zero diff
    t.merge(Seq((3L, "c")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v3, published
    val (repaired, unrep) = t.repairChangeFeed(Seq("id"))
    assert(repaired == Seq(1L) && unrep.isEmpty)
    assert(t.changeFeedVersions == Seq(1L, 3L),
      "a zero-diff version must not publish an empty feed dir — absence means " +
        "'no stored changes' (parity with the write paths' rows>0 guard)")
    assert(t.repairChangeFeed(Seq("id"))._1.isEmpty, "repair stays idempotent")
  }

  test("repair skips a column-DDL version: a rename changes no row") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), Some("id")) // v1
    t.publishInitialSnapshot()
    t.merge(Seq((2L, "b2")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v2
    assert(t.renameColumn("v", "w") == 3L) // v3: metadata only
    // a snapshot diff across the rename would see every row's `w` appear
    // (NULL pre-image) and publish an update pair per row
    val (repaired, unrep) = t.repairChangeFeed(Seq("id"))
    assert(!repaired.contains(3L) && unrep.isEmpty)
    assert(t.changeFeedVersions == Seq(1L, 2L))
  }

  test("feed-publishing appends reject reserved columns and skip empty batches") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a")).toDF("id", "v"), Some("id"))
    intercept[IllegalArgumentException] {
      t.appendWithChangeFeed(
        Seq((2L, "b", "delete")).toDF("id", "v", "_change_type"), Seq("id"))
    }
    // an all-filtered batch commits a version but publishes no feed dir
    val v = t.appendWithChangeFeed(
      Seq((99L, "z")).toDF("id", "v").filter(col("id") < 0), Seq("id"))
    assert(t.latestVersion.contains(v))
    assert(t.changeFeedVersions.isEmpty)
  }

  test("compactChangeFeed: batch reads unchanged, running stream not double-delivered") {
    val root = tmp()
    val t = GraftTable(spark, root)
    t.overwrite(Seq((1L, "a")).toDF("id", "v"), Some("id"))
    t.publishInitialSnapshot() // v1
    (2 to 5).foreach { i =>
      t.merge(Seq((i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll()
        .withChangeFeed().execute()
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val before1 = canon(t.changeFeed(1))
    val before3 = canon(t.changeFeed(3))
    // a live stream that has consumed everything so far
    val q = t.readChangeStream()
      .writeStream.outputMode("append")
      .format("memory").queryName("cfc_stream").start()
    try {
      q.processAllAvailable()
      val streamedBefore = spark.table("cfc_stream").count()

      assert(t.compactChangeFeed(upToVersion = 4) == 4)
      // logical version set unchanged → repair won't re-backfill
      assert(t.changeFeedVersions == Seq(1L, 2L, 3L, 4L, 5L))
      assert(t.repairChangeFeed(Seq("id"))._1.isEmpty)
      // batch reads identical, including a slice INSIDE the segment
      assert(canon(t.changeFeed(1)) == before1)
      assert(canon(t.changeFeed(3)) == before3)
      // on disk: one segment, only v5 left as a live dir
      val children = java.nio.file.Files.list(java.nio.file.Paths.get(root, "_changes"))
      val dirs = try children.iterator().asScala.map(_.getFileName.toString).toSet
      finally children.close()
      assert(dirs == Set(f"v${5L}%020d"))

      // the stream saw NOTHING from compaction (its files are outside the glob)
      q.processAllAvailable()
      assert(spark.table("cfc_stream").count() == streamedBefore,
        "compaction must not re-deliver consumed changes to a running stream")
      // and new commits still stream normally
      t.merge(Seq((6L, "v6")).toDF("id", "v"), Seq("id"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll()
        .withChangeFeed().execute() // v6
      q.processAllAvailable()
      assert(spark.table("cfc_stream").count() == streamedBefore + 1)
    } finally q.stop()
    // a later compaction folds the earlier segment into the new one
    assert(t.compactChangeFeed(upToVersion = 6) == 6)
    assert(t.changeSegments.length == 1)
    assert(t.changeFeedVersions == (1L to 6L))
    assert(canon(t.changeFeed(1)).map(x => (x._1, x._3, x._4)) ==
      before1.map(x => (x._1, x._3, x._4)) + ((6L, "insert", 6L)))
  }

  test("changeFeed(withRowIds): updates/deletes store ids, linked appends derive them") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), Some("id")) // v1
    t.enableRowTracking() // v2
    val ids = t.snapshotWithRowIds().select("id", GraftTable.RowIdOut)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // key-changing UPDATE: both images must share one stored id
    t.update(Map("id" -> "20"), "id = 2", changeFeed = true) // v3
    // MOR delete: the delete row carries its id
    t.delete("id = 3", changeFeed = true, deletionVectors = Some(true)) // v4
    // zero-copy linked append: ids derive from baseRowId + row_index
    t.appendWithChangeFeed(Seq((5L, "e"), (6L, "f")).toDF("id", "v"), Seq("id")) // v5
    def feedIds(since: Long) = t.changeFeed(since, withRowIds = true)
      .select("id", "_change_type", GraftTable.RowIdOut).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val newIds = t.snapshotWithRowIds().select("id", GraftTable.RowIdOut)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feedIds(3) == Set(
      (2L, "update_preimage", ids(2L)), (20L, "update_postimage", ids(2L)),
      (3L, "delete", ids(3L)),
      (5L, "insert", newIds(5L)), (6L, "insert", newIds(6L))),
      s"got ${feedIds(3)}")
    // compaction MATERIALIZES the derived ids into the segment — the
    // linked source dirs are deleted, so the answer must not change
    assert(t.compactChangeFeed(upToVersion = 5L) > 0)
    assert(feedIds(3) == Set(
      (2L, "update_preimage", ids(2L)), (20L, "update_postimage", ids(2L)),
      (3L, "delete", ids(3L)),
      (5L, "insert", newIds(5L)), (6L, "insert", newIds(6L))),
      "segment fold must preserve (and materialize) every id")
    // withRowIds without tracking is refused loudly
    val t2 = GraftTable(spark, tmp())
    t2.overwrite(Seq((1L, "a")).toDF("id", "v"), Some("id"))
    val e = intercept[IllegalArgumentException](t2.changeFeed(1, withRowIds = true))
    assert(e.getMessage.contains("row tracking"))
    // the plain read is unchanged — no id column leaks into it
    assert(!t.changeFeed(3).columns.contains(GraftTable.RowIdOut))
  }

  test("changeFeed(withRowIds): MERGE insert ids fill from the fresh files post-commit") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Some("id")) // v1
    t.enableRowTracking() // v2
    val rid2 = t.snapshotWithRowIds().filter(col("id") === 2L)
      .select(GraftTable.RowIdOut).head().getLong(0)
    // one merge that UPDATES (id-carried), KEY-CHANGES (delete+insert
    // halves sharing the carried id) and INSERTS (id born at commit —
    // null in the pre-staged diff, filled by the read)
    t.merge(
      Seq((1L, 1L, "a2"), (2L, 20L, "b"), (7L, 7L, "g")).toDF("id", "nid", "v"),
      Seq("id"))
      .whenMatchedUpdate(Seq("id" -> "s.nid", "v" -> "s.v"))
      .whenNotMatchedInsert(Seq("id" -> "s.nid", "v" -> "s.v"))
      .withChangeFeed().execute() // v3
    val snapIds = t.snapshotWithRowIds().select("id", GraftTable.RowIdOut)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val feed = t.changeFeed(3, withRowIds = true)
      .select("id", "_change_type", GraftTable.RowIdOut).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(feed == Set(
      (1L, "update_preimage", Some(snapIds(1L))),
      (1L, "update_postimage", Some(snapIds(1L))),
      (2L, "delete", Some(rid2)), // key-change halves keep the carried id
      (20L, "insert", Some(rid2)),
      (7L, "insert", Some(snapIds(7L)))), // true insert: id filled post-commit
      s"got $feed")
    // compaction materializes the filled ids into the segment
    assert(t.compactChangeFeed(upToVersion = 3L) > 0)
    val after = t.changeFeed(3, withRowIds = true)
      .select("id", "_change_type", GraftTable.RowIdOut).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(after == feed, "segment fold must preserve the filled insert ids")
  }

  test("vacuumed merge fresh files: withRowIds feed names retention, not null ids") {
    val root = tmp()
    val t = GraftTable(spark, root)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Some("id")) // v1
    t.enableRowTracking() // v2
    t.merge(Seq((7L, "g")).toDF("id", "v"), Seq("id"))
      .whenNotMatchedInsertAll().withChangeFeed().execute() // v3: insert
    // retire v3's fresh files out from under the uncompacted feed —
    // the state a raced/partial retention pass leaves (the engine's own
    // vacuum pins tagged manifests WITH their files, but an external
    // cleanup or a crash mid-vacuum does not)
    val freshPaths = t.filesOf(t.manifest(3L))
      .filter(_.rcv.contains(3L)).map(_.path)
    assert(freshPaths.nonEmpty)
    freshPaths.foreach(p =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(root, p)))
    // the insert's id is unservable: the read must fail NAMING retention
    // and the recovery — null ids here would make an identity-keyed
    // consumer misdiagnose "feed predates row tracking"
    val e = intercept[Exception] {
      t.changeFeed(3, withRowIds = true).collect()
    }
    def chain(x: Throwable): Seq[String] =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .flatMap(c => Option(c.getMessage)).toSeq
    val msg = chain(e).mkString(" | ")
    assert(msg.contains("vacuumed") && msg.contains("startingVersion"),
      s"must name retention + recovery, got: $msg")
    // rows of OTHER versions stay servable — the error is per-row
    t.merge(Seq((1L, "a2")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().withChangeFeed().execute() // v4: intact
    val v4rows = t.changeFeed(3, withRowIds = true)
      .filter(col("_commit_version") === 4)
    assert(v4rows.count() == 2) // update pre+post image
    assert(!v4rows.select(GraftTable.RowIdOut).collect().exists(_.isNullAt(0)))
  }

  test("readChangeStream(withRowIds) serves stored identity across the hop") {
    val dir = tmp()
    val t = GraftTable(spark, s"$dir/t")
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Some("id"))
    t.enableRowTracking()
    val rid2 = t.snapshotWithRowIds().filter(col("id") === 2L)
      .select(GraftTable.RowIdOut).head().getLong(0)
    t.update(Map("id" -> "20"), "id = 2", changeFeed = true) // key change
    val q = t.readChangeStream(withRowIds = true)
      .writeStream.format("memory").queryName("cdf_rid")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cdf_rid")
        .select("id", "_change_type", GraftTable.RowIdOut).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set((2L, "update_preimage", rid2), (20L, "update_postimage", rid2)),
        s"both images of the key-changing update must share one id: $got")
    } finally q.stop()
  }

  test("repairChangeFeed on a tracked table backfills identity-paired rows") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Some("id")) // v1
    t.enableRowTracking() // v2
    val rid = t.snapshotWithRowIds().filter(col("id") === 2L)
      .select(GraftTable.RowIdOut).head().getLong(0)
    t.update(Map("id" -> "20"), "id = 2") // v3 — NO feed published (the gap)
    val (repaired, un) = t.repairChangeFeed(Seq("id"), sinceVersion = 3)
    assert(repaired == Seq(3L) && un.isEmpty)
    val got = t.changeFeed(3, withRowIds = true)
      .select("id", "_change_type", GraftTable.RowIdOut).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // a key-paired repair would have backfilled delete+insert; the
    // tracked repair diffs by identity and pairs the images exactly
    assert(got == Set((2L, "update_preimage", rid), (20L, "update_postimage", rid)),
      s"got $got")
  }

  test("table_changes SQL TVF serves the stored feed with version bounds") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a")).toDF("id", "v"), Some("id"))
    t.merge(Seq((2L, "b")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v2
    t.merge(Seq((3L, "c")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v3
    val all = spark.sql(s"SELECT * FROM table_changes('graft.`${t.root}`', 2)")
    assert(all.select("id").as[Long].collect().toSet == Set(2L, 3L))
    // upper bound excludes v3; composes with plain SQL on top
    val bounded = spark.sql(
      s"""SELECT id, _change_type FROM table_changes('graft.`${t.root}`', 2, 2)
         |WHERE _change_type = 'insert'""".stripMargin)
    assert(bounded.as[(Long, String)].collect().toSeq == Seq((2L, "insert")))
    // arity is checked loudly
    intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('graft.`${t.root}`')").collect()
    }
  }

  test("table_changes accepts timestamp and tag bounds (Delta/graft parity)") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a")).toDF("id", "v"), Some("id"))
    t.merge(Seq((2L, "b")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v2
    t.createTag("cut", Some(2L))
    t.merge(Seq((3L, "c")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v3
    // tag bound: from the tagged version on
    val fromTag = spark.sql(
      s"SELECT id FROM table_changes('graft.`${t.root}`', 'cut')")
    assert(fromTag.as[Long].collect().toSet == Set(2L, 3L))
    // timestamp FROM bound: a cut before every commit → whole feed;
    // timestamp TO bound at 'now' → everything committed so far
    val fromEpoch = spark.sql(
      s"""SELECT id FROM table_changes('graft.`${t.root}`',
         |'1970-01-01 00:00:00', '2999-01-01 00:00:00')""".stripMargin)
    assert(fromEpoch.as[Long].collect().toSet == Set(2L, 3L),
      "v1 pre-dates the feed (no change rows), v2+v3 are stored")
    // a cut past every commit → empty tail, not an error
    val future = spark.sql(
      s"SELECT id FROM table_changes('graft.`${t.root}`', '2999-01-01 00:00:00')")
    assert(future.count() == 0)
    // garbage bound names all three accepted forms
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM table_changes('graft.`${t.root}`', 'not-a-thing')").collect())
    assert(e.getMessage.contains("version") &&
      e.getMessage.contains("timestamp"), e.getMessage)
  }

  test("vacuum ages out old change-feed versions") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a")).toDF("id", "v"), Some("id"))
    t.merge(Seq((2L, "b")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v2
    t.merge(Seq((3L, "c")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute() // v3
    assert(t.changeFeedVersions == Seq(2L, 3L))
    t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(t.changeFeedVersions == Seq(3L),
      "v2's change data must age out with its version")
    assert(t.changeFeed(1L).select("id").head().getLong(0) == 3L)
  }

  test("changeFeed(withRowIds): pv-append insert ids fill from the fresh files") {
    val dir = tmp() + "/t"
    (1L to 30L).map(i => (i, s"v$i", (i % 3).toInt)).toDF("id", "v", "p")
      .repartition(1).write.partitionBy("p").parquet(dir)
    val t = GraftTable.convertParquet(spark, dir, Seq("id"), Seq("p" -> "INT"))
    t.enableRowTracking()
    // a pv append stages a COPY of the batch — the feed files are not
    // the data files, so the name-keyed linked fill can't reach them;
    // the derived fill must serve the commit-allocated ids anyway
    val v = t.appendWithChangeFeed(
      Seq((31L, "n1", 1), (32L, "n2", 2)).toDF("id", "v", "p"), Seq("id"))
    val snapIds = t.snapshotWithRowIds().select("id", GraftTable.RowIdOut)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val feed = t.changeFeed(v, withRowIds = true)
      .select("id", "p", "_change_type", GraftTable.RowIdOut).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(feed == Set(
      (31L, 1, "insert", Some(snapIds(31L))),
      (32L, 2, "insert", Some(snapIds(32L)))), s"got $feed")
  }

  test("change feed on a converted (pv) table carries partition values") {
    val dir = tmp() + "/t"
    (1L to 30L).map(i => (i, s"v$i", (i % 3).toInt)).toDF("id", "v", "p")
      .repartition(1).write.partitionBy("p").parquet(dir)
    val t = GraftTable.convertParquet(spark, dir, Seq("id"), Seq("p" -> "INT"))
    // pv appends stage a COPY (the data files lack the partition
    // columns), so the feed must still serve p for every change row
    t.appendWithChangeFeed(
      Seq((31L, "n1", 1), (32L, "n2", 2)).toDF("id", "v", "p"), Seq("id"))
    val feed = t.changeFeed(sinceVersion = 1)
      .select("id", "v", "p", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(feed == Set((31L, "n1", 1, "insert"), (32L, "n2", 2, "insert")))
    // a merge with the feed on serves both images with partition values
    t.merge(Seq((31L, "N1", 1)).toDF("id", "v", "p"), Seq("id"))
      .whenMatchedUpdateAll().withChangeFeed().execute()
    val feed2 = t.changeFeed(sinceVersion = t.latestManifest.get.version)
      .select("id", "v", "p", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(feed2 == Set((31L, "n1", 1, "update_preimage"),
      (31L, "N1", 1, "update_postimage")))
    assert(t.latestManifest.get.hasPv)
  }

  test("untracked table with a USER _row_id column under column mapping: feed stays unambiguous") {
    // the reserved-name gate only guards tracked tables, so an untracked
    // (converted/legacy) table may carry a user column literally named
    // _row_id; with a non-empty mapping the logical-aliasing select must
    // emit that field ONCE, never a second name-based passthrough
    val t = GraftTable(spark, tmp())
    t.overwrite(
      Seq((1L, 5L, "a"), (2L, 6L, "b")).toDF("id", "_row_id", "v"),
      Some("id"))
    t.renameColumn("v", "val") // non-empty mapping; _row_id keeps its name
    t.merge(Seq((1L, 50L, "a2")).toDF("id", "_row_id", "val"), Seq("id"))
      .whenMatchedUpdateAll().withChangeFeed().execute()
    val feed = t.changeFeed(sinceVersion = t.latestManifest.get.version)
    assert(feed.columns.count(_ == "_row_id") == 1,
      s"duplicate _row_id projection: ${feed.columns.mkString(", ")}")
    val got = feed.select("id", "_row_id", "val", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    assert(got == Set((1L, 5L, "a", "update_preimage"),
      (1L, 50L, "a2", "update_postimage")))
  }

  test("key-restricted merge diff equals the full diff (untouched rows silent)") {
    // one wide file of 1000 rows so the merge rewrites FAR more rows
    // than the batch touches — the key-restricted diff must still emit
    // exactly the touched rows' changes and nothing for carried rows
    def feedOf(restrictable: Boolean): Set[(Long, Long, String)] = {
      val t = GraftTable(spark, tmp())
      t.overwrite(
        spark.range(1000).selectExpr("id", "id * 2 AS v", "'x' AS tag"),
        Some("id"))
      val batch = Seq((5L, 555L, "x"), (7L, 777L, "x"), (2000L, 1L, "n"))
        .toDF("id", "v", "tag")
      val m = t.merge(batch, Seq("id"))
      // same semantics through both code paths: the legacy path is
      // key-restrictable, the explicit-assignment clause path is not
      val m2 =
        if (restrictable)
          m.whenMatchedUpdateAll().whenNotMatchedInsertAll()
            .whenMatchedDelete("v = 777")
        else
          m.whenMatchedUpdate(Seq("id" -> "s.id", "v" -> "s.v", "tag" -> "s.tag"),
            cond = Some("s.v <> 777"))
            .whenMatchedDeleteClause(Some("s.v = 777"))
            .whenNotMatchedInsert(
              Seq("id" -> "s.id", "v" -> "s.v", "tag" -> "s.tag"))
      m2.withChangeFeed().execute()
      t.changeFeed(2).select("id", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    }
    val expected = Set(
      (5L, 10L, "update_preimage"), (5L, 555L, "update_postimage"),
      (7L, 14L, "delete"),
      (2000L, 1L, "insert"))
    val restricted = feedOf(restrictable = true)
    val full = feedOf(restrictable = false)
    assert(restricted == expected, s"restricted diff: $restricted")
    assert(full == expected, s"full diff: $full")
  }
}
