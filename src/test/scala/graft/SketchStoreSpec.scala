package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.pipeline.{ConfigStore, Entity, SilverLoader, SketchStore}
import graft.sources.GraftTable

/** The incrementally-synced sketch store must be indistinguishable from
  * re-sketching the source snapshot, across inserts, updates, deletes,
  * replays, and feed-off windows.
  */
class SketchStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables.table(spark, sf, "documents")
    .select("doc_id", "text")

  private def freshSigs(of: DataFrame): Set[(Long, String)] =
    of.select(col("doc_id"),
      TextFunctions.minhashSignature(
        TextFunctions.wordShingles(
          TextFunctions.tokens(col("text")), 3), 64).as("sig"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).mkString(",")).toSet

  private def storedSigs(store: SketchStore): Set[(Long, String)] =
    store.sigs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).mkString(",")).toSet

  private def newRoots(): (String, String) = {
    val tmp = Files.createTempDirectory("graft-sketchstore").toString
    (s"$tmp/silver", s"$tmp/sketch")
  }

  test("sync tracks inserts, updates, and deletes exactly") {
    val (silverRoot, sketchRoot) = newRoots()
    val silver = GraftTable(spark, silverRoot)
    val store = new SketchStore(spark, sketchRoot, "doc_id", "text")

    // v1: first half, full sync
    silver.overwriteStats(docs.filter(col("doc_id") < 250), Seq("doc_id"))
    silver.publishInitialSnapshot()
    assert(store.syncFrom(silver) == 1L)
    assert(storedSigs(store) == freshSigs(silver.snapshot))

    // v2: updates (rewrite text), inserts, deletes — one merge
    val batch = docs.filter(col("doc_id") < 100) // update: reversed text
      .withColumn("text", concat_ws(" ", reverse(split(col("text"), " "))))
      .withColumn("op", lit("U"))
      .unionByName(docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
        .withColumn("op", lit("I"))) // insert
      .unionByName(docs.filter(col("doc_id") >= 200 && col("doc_id") < 250)
        .withColumn("op", lit("D"))) // delete
    silver.merge(batch, Seq("doc_id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .whenMatchedDelete("op = 'D'").withChangeFeed().execute()

    assert(store.syncFrom(silver) == 2L)
    val want = freshSigs(silver.snapshot.select("doc_id", "text"))
    assert(storedSigs(store) == want)
    // deletes really left the store
    assert(store.sigs.filter(col("id") >= 200 && col("id") < 250).count() == 0)
    // replay is a no-op: same version back, no new sketch-table commit
    val vBefore = store.table.latestVersion
    assert(store.syncFrom(silver) == 2L)
    assert(store.table.latestVersion == vBefore)
  }

  test("a key an UPDATE moved away leaves the store") {
    val (silverRoot, sketchRoot) = newRoots()
    val silver = GraftTable(spark, silverRoot)
    val store = new SketchStore(spark, sketchRoot, "doc_id", "text")
    silver.overwriteStats(docs.filter(col("doc_id") < 100), Seq("doc_id"))
    silver.publishInitialSnapshot()
    store.syncFrom(silver)

    // the feed carries the old key only as an update_preimage
    silver.update(Map("doc_id" -> "doc_id + 1000"), "doc_id < 10", changeFeed = true)
    assert(store.syncFrom(silver) == silver.latestVersion.get)
    assert(storedSigs(store) == freshSigs(silver.snapshot))
    assert(store.sigs.filter(col("id") < 10).count() == 0)
  }

  test("unpublishable window versions trigger a full resync (overwrite/append)") {
    val (silverRoot, sketchRoot) = newRoots()
    val silver = GraftTable(spark, silverRoot)
    val store = new SketchStore(spark, sketchRoot, "doc_id", "text")

    silver.overwriteStats(docs.filter(col("doc_id") < 100), Seq("doc_id"))
    silver.publishInitialSnapshot()
    store.syncFrom(silver)

    // v2 OVERWRITE: replaces content the feed never describes → resync
    silver.overwriteStats(
      docs.filter(col("doc_id") >= 50 && col("doc_id") < 150), Seq("doc_id"))
    assert(store.syncFrom(silver) == 2L)
    assert(storedSigs(store) == freshSigs(silver.snapshot))
    assert(store.table.latestManifest.flatMap(_.operation)
      .contains("overwrite")) // the full-resync path, not a feed apply

    // v3 feed-off APPEND with rows → resync again
    silver.appendStats(
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 200), Seq("doc_id"))
    assert(store.syncFrom(silver) == 3L)
    assert(storedSigs(store) == freshSigs(silver.snapshot))
  }

  test("row-count-changing feed-off merges force a full resync") {
    val (silverRoot, sketchRoot) = newRoots()
    val silver = GraftTable(spark, silverRoot)
    val store = new SketchStore(spark, sketchRoot, "doc_id", "text")

    silver.overwriteStats(docs.filter(col("doc_id") < 100), Seq("doc_id"))
    silver.publishInitialSnapshot()
    store.syncFrom(silver)

    // v2: a merge WITHOUT .withChangeFeed() that INSERTS rows — the
    // manifest row count moves exactly like the feed-off append case,
    // so trusting it as zero-diff (the round-5 behavior) would leave
    // the store silently stale
    silver.merge(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150), Seq("doc_id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(store.syncFrom(silver) == 2L)
    assert(storedSigs(store) == freshSigs(silver.snapshot))
    assert(store.table.latestManifest.flatMap(_.operation)
      .contains("overwrite")) // the full-resync path, not a feed apply
  }

  test("an equal-count feed-off update merge forces a full resync") {
    val (silverRoot, sketchRoot) = newRoots()
    val silver = GraftTable(spark, silverRoot)
    val store = new SketchStore(spark, sketchRoot, "doc_id", "text")

    silver.overwriteStats(docs.filter(col("doc_id") < 100), Seq("doc_id"))
    silver.publishInitialSnapshot()
    store.syncFrom(silver)

    // v2: a merge WITHOUT .withChangeFeed() that rewrites 20 existing
    // keys' text — the row count stays 100, only the file set moves
    silver.merge(
      docs.filter(col("doc_id") < 20)
        .withColumn("text", concat_ws(" ", reverse(split(col("text"), " ")))),
      Seq("doc_id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(silver.fastCount == 100L)
    assert(store.syncFrom(silver) == 2L)
    assert(storedSigs(store) == freshSigs(silver.snapshot))
    assert(store.table.latestManifest.flatMap(_.operation)
      .contains("overwrite")) // the full-resync path, not a feed apply
  }

  test("provably row-free window versions advance the marker without resketching") {
    val (silverRoot, sketchRoot) = newRoots()
    val silver = GraftTable(spark, silverRoot)
    val store = new SketchStore(spark, sketchRoot, "doc_id", "text")

    silver.overwriteStats(docs.filter(col("doc_id") < 100), Seq("doc_id"))
    silver.publishInitialSnapshot()
    store.syncFrom(silver)

    silver.compact() // v2: maintenance rewrite, no row changes
    assert(store.syncFrom(silver) == 2L)
    assert(storedSigs(store) == freshSigs(silver.snapshot))
    // marker advanced via the incremental (merge) path, not a re-sketch
    assert(store.syncedVersion.contains(2L))
    assert(store.table.latestManifest.flatMap(_.operation).contains("merge"))

    silver.enableRowTracking() // v3: re-lists the same files with id ranges
    silver.addColumn("lang", "STRING") // v4: column DDL, no file touched
    val storeVersion = store.table.latestVersion
    assert(store.syncFrom(silver) == 4L)
    assert(storedSigs(store) == freshSigs(silver.snapshot))
    assert(store.syncedVersion.contains(4L))
    assert(store.table.latestVersion.map(_ - 1) == storeVersion)
    assert(store.table.latestManifest.flatMap(_.operation).contains("merge"))
  }

  test("follows a feed-publishing SilverLoader entity across loads") {
    val tmp = Files.createTempDirectory("graft-sketchloader").toString
    val config = new ConfigStore(spark, s"$tmp/control")
    config.registerEntities(Seq(Entity(
      1L, "docs_entity", "demo.docs", "src", "silver",
      "TMSTP", Some("updated_at"), "doc_id")))
    val loader = new SilverLoader(spark, config, s"$tmp/src", s"$tmp/silver",
      publishChangeFeed = true)
    val store = new SketchStore(spark, s"$tmp/sketch", "doc_id", "text")

    val t0 = to_timestamp(lit("2021-01-01 10:00:00")).cast("timestamp_ntz")
    val t1 = to_timestamp(lit("2021-02-01 10:00:00")).cast("timestamp_ntz")
    docs.filter(col("doc_id") < 250).withColumn("updated_at", t0)
      .write.mode("overwrite").parquet(s"$tmp/src/docs_entity.parquet")
    loader.run()
    val silverT = loader.silverTable(config.entities.head)
    assert(store.syncFrom(silverT) == silverT.latestVersion.get)
    assert(storedSigs(store) ==
      freshSigs(silverT.snapshot.select("doc_id", "text")))

    // round 2: 50 docs rewritten (newer timestamp), 150 new docs
    docs.filter(col("doc_id") < 250).withColumn("updated_at", t0)
      .filter(col("doc_id") >= 50)
      .unionByName(docs.filter(col("doc_id") < 50)
        .withColumn("text", concat_ws(" ", reverse(split(col("text"), " "))))
        .withColumn("updated_at", t1))
      .unionByName(docs.filter(col("doc_id") >= 250 && col("doc_id") < 400)
        .withColumn("updated_at", t1))
      .write.mode("overwrite").parquet(s"$tmp/src/docs_entity.parquet")
    loader.run()
    assert(store.syncFrom(silverT) == silverT.latestVersion.get)
    assert(storedSigs(store) ==
      freshSigs(silverT.snapshot.select("doc_id", "text")))
  }

  test("store manifests stay bounded across many NRT sync cycles") {
    val (silverRoot, sketchRoot) = newRoots()
    val silver = GraftTable(spark, silverRoot)
    val store = new SketchStore(spark, sketchRoot, "doc_id", "text") {
      override protected def vacuumEvery = 5
      override protected def vacuumKeep = 2
      override protected def vacuumMinAgeMs = 0L
    }
    silver.overwriteStats(docs.filter(col("doc_id") < 20), Seq("doc_id"))
    silver.publishInitialSnapshot()
    store.syncFrom(silver)
    for (i <- 0 until 12) {
      silver.merge(
        docs.filter(col("doc_id") === (20L + i)), Seq("doc_id"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll()
        .withChangeFeed().execute()
      store.syncFrom(silver)
    }
    // 13 syncs happened; retention keeps the manifest count shallow
    assert(store.table.history.size <= 5,
      s"expected vacuumed history, got ${store.table.history.size} versions")
    // correctness and replay detection survive the vacuum horizon
    assert(storedSigs(store) == freshSigs(silver.snapshot.select("doc_id", "text")))
    val v = store.table.latestVersion
    assert(store.syncFrom(silver) == silver.latestVersion.get)
    assert(store.table.latestVersion == v) // marker intact → no-op
  }

  test("racing syncs on one store both converge, exactly one commit lands") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (silverRoot, sketchRoot) = newRoots()
    val silver = GraftTable(spark, silverRoot)
    silver.overwriteStats(docs.filter(col("doc_id") < 100), Seq("doc_id"))
    silver.publishInitialSnapshot()
    new SketchStore(spark, sketchRoot, "doc_id", "text").syncFrom(silver)

    silver.merge(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150), Seq("doc_id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute()
    // two INDEPENDENT store handles race the same window; whichever
    // loses the commit race (or reads the marker late) must converge,
    // not throw
    val stores = Seq.fill(2)(new SketchStore(spark, sketchRoot, "doc_id", "text"))
    val results = Await.result(
      Future.sequence(stores.map(s => Future(s.syncFrom(silver)))), 120.seconds)
    assert(results == Seq(2L, 2L))
    val check = new SketchStore(spark, sketchRoot, "doc_id", "text")
    assert(check.table.latestVersion.contains(2L),
      s"expected exactly one sync commit, got ${check.table.latestVersion}")
    assert(storedSigs(check) == freshSigs(silver.snapshot.select("doc_id", "text")))
  }

  test("incremental dedup from the store matches re-sketching the corpus") {
    val (silverRoot, sketchRoot) = newRoots()
    val silver = GraftTable(spark, silverRoot)
    val store = new SketchStore(spark, sketchRoot, "doc_id", "text")
    silver.overwriteStats(docs.filter(col("doc_id") < 200), Seq("doc_id"))
    silver.publishInitialSnapshot()
    store.syncFrom(silver)

    val t = TextFunctions.tokens(col("text"))
    val batch = docs.filter(col("doc_id") < 200)
      .withColumn("doc_id", col("doc_id") + 10000L)
      .withColumn("text",
        array_join(slice(t, lit(1), ceil(size(t) * 0.8).cast("int")), " "))
    val corpus = silver.snapshot.select("doc_id", "text")
    val fromStore = Dedup.minhashPairsAgainst(batch, corpus, "doc_id", "text",
      numPerms = 64, bands = 32, minJaccard = 0.3,
      corpusSigs = Some(store.sigs))
    val fresh = Dedup.minhashPairsAgainst(batch, corpus, "doc_id", "text",
      numPerms = 64, bands = 32, minJaccard = 0.3)
    val a = fromStore.select("batch_id", "corpus_id")
    val b = fresh.select("batch_id", "corpus_id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // and the true pairs are all there
    val recall = fromStore
      .filter(col("batch_id") === col("corpus_id") + 10000L).count() / 200.0
    assert(recall >= 0.95, f"recall $recall%.3f below 0.95")
  }
}
