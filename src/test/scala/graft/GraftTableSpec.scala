package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftTable

class GraftTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-tbl").toString

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select("id", "name", "amount").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("overwrite + snapshot round-trip") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "amount"), Some("id"))
    assert(rows(t.snapshot) == Set((1L, "a", 1.0), (2L, "b", 2.0)))
    assert(t.latestVersion.contains(1L))
  }

  test("overwrite replaces prior contents") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0)).toDF("id", "name", "amount"))
    t.overwrite(Seq((9L, "z", 9.0)).toDF("id", "name", "amount"))
    assert(rows(t.snapshot) == Set((9L, "z", 9.0)))
    assert(t.latestVersion.contains(2L))
  }

  test("append keeps existing rows") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0)).toDF("id", "name", "amount"))
    t.append(Seq((2L, "b", 2.0)).toDF("id", "name", "amount"))
    assert(rows(t.snapshot) == Set((1L, "a", 1.0), (2L, "b", 2.0)))
  }

  test("fastCount answers count(*) from manifest stats, at every version") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "amount"), Some("id"))
    t.merge(Seq((2L, "B", 2.2), (3L, "c", 3.0)).toDF("id", "name", "amount"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(t.fastCount == 3L)
    assert(t.fastCount == t.snapshot.count())
    assert(t.fastCountAt(1L) == 2L)
    assert(t.fastCountAt(1L) == t.snapshotAt(1L).count())
  }

  test("scan prunes files on pushed-down predicates without the catalog") {
    val t = GraftTable(spark, tmp())
    val df = (0L until 400L).map(i => (s"day-${i % 4}", i, i.toDouble))
      .toDF("day", "id", "amount")
    t.overwritePartitioned(df, Seq("day"), Seq("id"))
    assert(t.latestManifest.get.files.length > 1)
    val q = t.scan.filter(col("day") === "day-2").agg(sum("amount"))
    assert(q.head().getDouble(0) == (0L until 400L).filter(_ % 4 == 2).map(_.toDouble).sum)
    val root = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scanned = root.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }
    assert(scanned.exists(_ < t.latestManifest.get.files.length),
      s"expected stats-pruned scan, scanned $scanned of ${t.latestManifest.get.files.length}")
    // and the SAME DataFrame auto-advances: the file index re-resolves
    // the latest version at each execution, so a commit made after the
    // plan was built is visible without re-planning
    val live = t.scan
    assert(live.count() == 400L)
    t.append(Seq(("day-9", 999L, 9.0)).toDF("day", "id", "amount"))
    assert(live.count() == 401L)
  }

  test("time travel pins old versions") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0)).toDF("id", "name", "amount"))
    t.overwrite(Seq((2L, "b", 2.0)).toDF("id", "name", "amount"))
    assert(rows(t.snapshotAt(1)) == Set((1L, "a", 1.0)))
    assert(rows(t.snapshotAt(2)) == Set((2L, "b", 2.0)))
  }

  test("merge: insert-only (no matches)") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0)).toDF("id", "name", "amount"), Some("id"))
    t.merge(Seq((2L, "b", 2.0)).toDF("id", "name", "amount"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(rows(t.snapshot) == Set((1L, "a", 1.0), (2L, "b", 2.0)))
  }

  test("merge: update-only overwrites matched rows") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "amount"), Some("id"))
    t.merge(Seq((2L, "B", 20.0), (3L, "c", 3.0)).toDF("id", "name", "amount"), Seq("id"))
      .whenMatchedUpdateAll().execute() // no insert clause
    assert(rows(t.snapshot) == Set((1L, "a", 1.0), (2L, "B", 20.0)))
  }

  test("merge: mixed upsert (the reference's mode, ref :207-209)") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "amount"), Some("id"))
    t.merge(Seq((2L, "B", 20.0), (3L, "c", 3.0)).toDF("id", "name", "amount"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(rows(t.snapshot) == Set((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0)))
  }

  test("merge: composite primary key") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, 1L, "a"), (1L, 2L, "b")).toDF("k1", "k2", "v"), Some("k1"))
    t.merge(Seq((1L, 2L, "B"), (2L, 1L, "c")).toDF("k1", "k2", "v"), Seq("k1", "k2"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val got = t.snapshot.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 1L, "a"), (1L, 2L, "B"), (2L, 1L, "c")))
  }

  test("merge: op-aware delete (corrected CDC mode, SURVEY §2.9)") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", "I"), (2L, "b", "I")).toDF("id", "name", "SyncOperation"), Some("id"))
    t.merge(
      Seq((2L, "b", "D"), (3L, "c", "I"), (4L, "gone", "D"))
        .toDF("id", "name", "SyncOperation"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .whenMatchedDelete("SyncOperation = 'D'").execute()
    val got = t.snapshot.select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // 2 deleted; 3 inserted; 4 was a delete for a row we never had → dropped
    assert(got == Set((1L, "a"), (3L, "c")))
  }

  test("merge: NULL delete-condition means keep, on both join paths") {
    // A NULL op (e.g. a source feed missing SyncOperation for some rows)
    // must read as "not deleted" regardless of which physical path runs.
    // Fast path (updateAll + insertAll + small batch):
    val t1 = GraftTable(spark, tmp())
    t1.overwrite(Seq((1L, "a", "I"), (2L, "b", "I"))
      .toDF("id", "name", "SyncOperation"), Some("id"))
    t1.merge(
      Seq((2L, "b2", null.asInstanceOf[String]), (3L, "c", "I"))
        .toDF("id", "name", "SyncOperation"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .whenMatchedDelete("SyncOperation = 'D'").execute()
    val got1 = t1.snapshot.select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got1 == Set((1L, "a"), (2L, "b2"), (3L, "c")))
    // General path (update without insert cannot take the fast path):
    val t2 = GraftTable(spark, tmp())
    t2.overwrite(Seq((1L, "a", "I"), (2L, "b", "I"))
      .toDF("id", "name", "SyncOperation"), Some("id"))
    t2.merge(
      Seq((2L, "b2", null.asInstanceOf[String]))
        .toDF("id", "name", "SyncOperation"), Seq("id"))
      .whenMatchedUpdateAll()
      .whenMatchedDelete("SyncOperation = 'D'").execute()
    val got2 = t2.snapshot.select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 == Set((1L, "a"), (2L, "b2")))
  }

  test("merge: multiple source matches for one target row raise (both paths)") {
    // Delta parity: duplicates that MATCH a target row are ambiguous and
    // error; duplicates that match nothing insert normally (see below).
    def dupMatched(forceGeneral: Boolean): Unit = {
      val t = GraftTable(spark, tmp())
      t.overwrite(Seq((1L, "a", 1.0)).toDF("id", "name", "amount"), Some("id"))
      val dup = Seq((1L, "x", 9.0), (1L, "y", 8.0)).toDF("id", "name", "amount")
      val b = t.merge(dup, Seq("id")).whenMatchedUpdateAll()
      val e = intercept[Exception] {
        (if (forceGeneral) b else b.whenNotMatchedInsertAll()).execute()
      }
      def messages(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ messages(x.getCause)
      assert(messages(e).exists(_.contains("multiple-match")))
      assert(rows(t.snapshot) == Set((1L, "a", 1.0))) // table untouched
    }
    dupMatched(forceGeneral = false) // broadcast fast path
    dupMatched(forceGeneral = true)  // full-outer general path
  }

  test("merge: insert-only merge ignores matched duplicates (Delta parity)") {
    // no matched clause → no multiple-match check; the matched target row
    // must come through exactly once, not once per source duplicate
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "amount"), Some("id"))
    val src = Seq((1L, "x", 9.0), (1L, "y", 8.0), (3L, "c", 3.0))
      .toDF("id", "name", "amount")
    t.merge(src, Seq("id")).whenNotMatchedInsertAll().execute()
    assert(rows(t.snapshot) == Set((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
  }

  test("merge: duplicate source keys that match nothing insert (Delta parity)") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0)).toDF("id", "name", "amount"), Some("id"))
    val dup = Seq((5L, "x", 9.0), (5L, "y", 8.0)).toDF("id", "name", "amount")
    t.merge(dup, Seq("id")).whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(rows(t.snapshot) == Set((1L, "a", 1.0), (5L, "x", 9.0), (5L, "y", 8.0)))
  }

  test("restore brings an old version's contents back as the newest version") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "amount"), Some("id"))
    t.overwrite(Seq((9L, "z", 9.0)).toDF("id", "name", "amount"), Some("id"))
    val v = t.restore(1)
    assert(v == 3L)
    assert(rows(t.snapshot) == Set((1L, "a", 1.0), (2L, "b", 2.0)))
    // intermediate history intact: v2 still time-travelable
    assert(rows(t.snapshotAt(2)) == Set((9L, "z", 9.0)))
    assert(t.history.head.operation == "restore")
  }

  test("changesBetween classifies inserts, updates, and deletes") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "amount"), Some("id"))
    t.merge(Seq((2L, "B", 20.0), (4L, "d", 4.0), (3L, "c", 3.0))
      .toDF("id", "name", "amount"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    // delete id=1 via corrected mode in a third version
    t.merge(Seq((1L, "a", 1.0)).toDF("id", "name", "amount")
      .withColumn("op", lit("D")), Seq("id"))
      .whenMatchedUpdateAll().whenMatchedDelete("op = 'D'").execute()
    val diff12 = t.changesBetween(1, 2, Seq("id")).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[String]("_change_type"))).toSet
    // id=3 re-merged identical → not a change; id=2 updated (both
    // images, Delta CDF parity); id=4 inserted
    assert(diff12 == Set((2L, "b", "update_preimage"),
      (2L, "B", "update_postimage"), (4L, "d", "insert")))
    // v3 evolved the schema (adds 'op'); pre-images null-pad it
    val diff23 = t.changesBetween(2, 3, Seq("id")).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSet
    assert(diff23 == Set((1L, "delete")))
  }

  test("merge: schema evolution — new source column null-backfilled") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a")).toDF("id", "name"), Some("id"))
    t.merge(Seq((2L, "b", 99.0)).toDF("id", "name", "extra"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val got = t.snapshot.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    assert(got == Set((1L, "a", None), (2L, "b", Some(99.0))))
  }

  test("merge: file pruning leaves disjoint files untouched") {
    val t = GraftTable(spark, tmp())
    // two far-apart key ranges, forced into separate files
    t.overwrite((1L to 100L).map(i => (i, s"lo$i")).toDF("id", "v")
      .repartitionByRange(2, col("id")), Some("id"))
    t.append((10001L to 10100L).map(i => (i, s"hi$i")).toDF("id", "v")
      .repartitionByRange(2, col("id")), Some("id"))
    val before = t.latestManifest.get.files.map(_.path).toSet
    // merge touches only the low range
    t.merge(Seq((5L, "LO5"), (6L, "LO6")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val after = t.latestManifest.get.files.map(_.path).toSet
    val survivors = before.intersect(after)
    assert(survivors.nonEmpty, "expected hi-range files to survive the merge untouched")
    assert(t.snapshot.filter(col("v") === "LO5").count() == 1)
    assert(t.snapshot.count() == 200)
  }

  test("merge: composite-key pruning uses every key column's range") {
    val t = GraftTable(spark, tmp())
    // four files partitioned on (k1 range) x (k2 range): the batch below
    // intersects k1 of two files but k2 of only one of those
    def block(k1s: Range, k2s: Range) =
      (for (a <- k1s; b <- k2s) yield (a.toLong, b.toLong, s"v$a-$b")).toDF("k1", "k2", "v")
    t.overwriteStats(block(1 to 10, 1 to 10).coalesce(1), Seq("k1", "k2"))
    t.appendStats(block(1 to 10, 1001 to 1010).coalesce(1), Seq("k1", "k2"))
    t.appendStats(block(1001 to 1010, 1 to 10).coalesce(1), Seq("k1", "k2"))
    t.appendStats(block(1001 to 1010, 1001 to 1010).coalesce(1), Seq("k1", "k2"))
    val before = t.latestManifest.get.files.map(_.path).toSet
    assert(before.size == 4)
    // batch hits k1 in [1,10] AND k2 in [1,10] → only the first file
    t.merge(Seq((5L, 5L, "UPD")).toDF("k1", "k2", "v"), Seq("k1", "k2"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val after = t.latestManifest.get.files.map(_.path).toSet
    val survivors = before.intersect(after)
    assert(survivors.size == 3,
      s"k2 range should prune the (k1 low, k2 high) file; survivors=${survivors.size}")
    assert(t.snapshot.filter(col("v") === "UPD").count() == 1)
    assert(t.snapshot.count() == 400)
  }

  test("concurrent commit of the same version: one writer loses") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a")).toDF("id", "v"))
    val staleBase = t.latestVersion // both writers observed v1
    t.overwrite(Seq((2L, "b")).toDF("id", "v")) // writer A commits v2
    // writer B, still holding base v1, races to commit v2 → must lose
    intercept[java.util.ConcurrentModificationException] {
      t.commit(t.snapshot.schema, Nil, staleBase)
    }
    assert(rows2(t.snapshot) == Set((2L, "b")), "winner's commit intact")
  }

  private def rows2(df: DataFrame): Set[(Long, String)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("merge commit against a stale base fails loudly instead of rebasing") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "amount"), Some("id"))
    val baseRead = t.latestVersion.get // the version a slow merge READ
    // a faster writer commits v2 meanwhile
    t.merge(Seq((1L, "M1", 10.0)).toDF("id", "name", "amount"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    // the slow merge's swap must target the version it read (v1) and
    // lose the race — silently rebasing onto v2 would duplicate rows
    intercept[java.util.ConcurrentModificationException] {
      t.swap(Set.empty, Nil, t.snapshot.schema, baseRead)
    }
    assert(rows(t.snapshot) == Set((1L, "M1", 10.0), (2L, "b", 2.0)),
      "winner's state intact")
  }

  test("merges on disjoint key ranges from the same base both commit") {
    import graft.sources.{ManifestFile, StatsPruning}
    val t = GraftTable(spark, tmp())
    val df = (0L until 200L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "amount")
    t.overwriteStats(df.repartitionByRange(2, col("id")), Seq("id"))
    val base = t.latestVersion.get
    val baseM = t.manifest(base)
    assert(baseM.files.length == 2)
    // writer A (keys 0-10) executes a REAL merge and commits first
    t.merge(Seq((5L, "A", -1.0)).toDF("id", "name", "amount"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    // writer B (keys 150-160) had already read `base`: its swap arrives
    // with a stale base but a disjoint range — must rebase and commit
    def idRange(f: ManifestFile): (Long, Long) = {
      val (lo, hi) = StatsPruning.fileRanges(f)("id")
      (lo.toLong, hi.toLong)
    }
    val fileHi = baseM.files.maxBy(f => idRange(f)._1)
    val loB = 150L; val hiB = 160L
    val replacement = df
      .filter(col("id") >= idRange(fileHi)._1)
      .withColumn("amount",
        when(col("id").between(loB, hiB), lit(-2.0)).otherwise(col("amount")))
    val newFiles = t.writeDataFiles(replacement.coalesce(1), Seq("id"))
    val overlapsB: ManifestFile => Boolean = f => {
      val fr = StatsPruning.fileRanges(f).get("id")
      fr.forall { case (lo, hi) => lo.toLong <= hiB && loB <= hi.toLong }
    }
    val v = t.swap(Set(fileHi.path), newFiles,
      t.snapshot.schema, base, overlapsB)
    assert(v > base + 1, "B rebased onto A's commit")
    val got = t.snapshot.select("id", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got(5L) == -1.0, "A's update survived")
    assert(got(155L) == -2.0, "B's update survived")
    assert(got.size == 200)
  }

  test("rebased merge preserves columns added by the concurrent commit") {
    import graft.sources.{ManifestFile, StatsPruning}
    val t = GraftTable(spark, tmp())
    val df = (0L until 200L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "amount")
    t.overwriteStats(df.repartitionByRange(2, col("id")), Seq("id"))
    val base = t.latestVersion.get
    val baseM = t.manifest(base)
    // A: merge on the LOW range whose source carries a NEW column
    t.merge(Seq((5L, "A", -1.0, "widened")).toDF("id", "name", "amount", "extra"),
      Seq("id")).whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    // B: disjoint high-range swap built against `base`, schema WITHOUT
    // the new column — the rebase must not erase A's widening
    def hiOf(f: ManifestFile) = StatsPruning.fileRanges(f)("id")._2.toLong
    val fileHi = baseM.files.maxBy(hiOf)
    val newFiles = t.writeDataFiles(
      df.filter(col("id") >= 100).coalesce(1), Seq("id"))
    t.swap(Set(fileHi.path), newFiles,
      org.apache.spark.sql.types.StructType.fromDDL(baseM.schema), base,
      (f: ManifestFile) => StatsPruning.fileRanges(f).get("id")
        .forall { case (_, hi) => hi.toLong >= 100 }) // overlaps B's [100,∞)
    assert(t.snapshot.columns.contains("extra"),
      "column added by the concurrent merge vanished after the rebase")
    val got = t.snapshot.filter(col("id") === 5).select("extra").head()
    assert(got.getString(0) == "widened")
  }

  test("merges on overlapping ranges still conflict loudly") {
    import graft.sources.{ManifestFile, StatsPruning}
    val t = GraftTable(spark, tmp())
    val df = (0L until 100L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "amount")
    t.overwriteStats(df.coalesce(1), Seq("id"))
    val base = t.latestVersion.get
    val theFile = t.manifest(base).files.head
    // A rewrites the only file
    t.merge(Seq((5L, "A", -1.0)).toDF("id", "name", "amount"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    // B also read `base` and also rewrote that file → must fail
    val newFiles = t.writeDataFiles(df.coalesce(1), Seq("id"))
    intercept[java.util.ConcurrentModificationException] {
      t.swap(Set(theFile.path), newFiles, t.snapshot.schema, base,
        (f: ManifestFile) => true)
    }
  }

  test("concurrent real merges on disjoint ranges end in a correct table") {
    val t = GraftTable(spark, tmp())
    val df = (0L until 400L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "amount")
    t.overwriteStats(df.repartitionByRange(4, col("id")), Seq("id"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(10L, 210L).map { lo =>
      new Thread(() =>
        try t.merge(
          (lo to lo + 5L).map(i => (i, "upd", -lo.toDouble))
            .toDF("id", "name", "amount"), Seq("id"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"disjoint merges should both commit: ${errs.peek()}")
    val got = t.snapshot.select("id", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.size == 400)
    assert((10L to 15L).forall(got(_) == -10.0))
    assert((210L to 215L).forall(got(_) == -210.0))
  }

  test("partitioned table: one-partition merge batch touches only that partition's files") {
    import graft.sources.StatsPruning
    val t = GraftTable(spark, tmp())
    val df = (0L until 700L).map(i => (s"day-${i % 7}", i, i.toDouble))
      .toDF("day", "id", "amount")
    t.overwritePartitioned(df, Seq("day"), Seq("id"))
    val base = t.latestManifest.get
    assert(base.partitionCols.contains(Seq("day")))
    assert(base.files.length > 1, "need multiple files for the pruning claim")
    // every file carries tight day ranges
    assert(base.files.forall(f => StatsPruning.fileRanges(f).contains("day")))
    val batch = df.filter(col("day") === "day-3")
      .withColumn("amount", col("amount") * -1)
    t.merge(batch, Seq("day", "id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val after = t.latestManifest.get
    assert(after.partitionCols.contains(Seq("day")), "layout survives the merge")
    val afterPaths = after.files.map(_.path).toSet
    val replaced = base.files.filterNot(f => afterPaths.contains(f.path))
    // only files whose day range contains day-3 were rewritten
    assert(replaced.nonEmpty && replaced.length < base.files.length,
      s"expected partial rewrite, replaced ${replaced.length}/${base.files.length}")
    assert(replaced.forall { f =>
      val (lo, hi) = StatsPruning.fileRanges(f)("day")
      lo <= "day-3" && "day-3" <= hi
    }, "a file outside the batch's partition range was rewritten")
    val got = t.snapshot.select("id", "amount").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got.size == 700)
    assert((0L until 700L).forall(i =>
      got(i) == (if (i % 7 == 3) -i.toDouble else i.toDouble)))
  }

  test("snapshot readers during merge see the pinned version") {
    val t = GraftTable(spark, tmp())
    t.overwrite(Seq((1L, "a", 1.0)).toDF("id", "name", "amount"), Some("id"))
    val pinned = t.snapshotAt(1)
    t.merge(Seq((1L, "A", 10.0)).toDF("id", "name", "amount"), Seq("id"))
      .whenMatchedUpdateAll().execute()
    assert(rows(pinned) == Set((1L, "a", 1.0)), "v1 reader must be undisturbed")
    assert(rows(t.snapshot) == Set((1L, "A", 10.0)))
  }

  test("shallow clone: zero-copy branch with vacuum independence") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-clone").toString
    val t = GraftTable(spark, s"$tmp/src")
    val rows = (1L to 200L).map(i => (i, s"v$i"))
    t.overwrite(rows.toDF("id", "v"), Some("id")) // v1
    t.merge(Seq((1L, "CHANGED"), (300L, "new")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute() // v2

    val clone = t.cloneAt(1L, s"$tmp/branch")
    // clone == source@v1, not source@latest
    assert(clone.snapshot.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == rows.toSet)
    // stats carried: the clone prunes like the source did
    assert(clone.latestManifest.get.allRows == 200L)

    // divergence is two-way isolated
    clone.merge(Seq((2L, "branched")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(t.snapshot.filter($"v" === "branched").count() == 0)
    assert(clone.snapshot.filter($"v" === "CHANGED").count() == 0)

    // vacuuming the source (dropping v1, minAge 0) cannot break the clone
    t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(clone.snapshot.count() == 200L)
    assert(clone.snapshot.filter($"v" === "branched").count() == 1)

    // a clone refuses to land on an existing table
    intercept[IllegalArgumentException] { t.cloneAt(2L, s"$tmp/branch") }

    // CHECK constraints travel with a clone (Delta table-property parity)
    t.addCheck("id_pos", "id > 0")
    val guarded = t.cloneAt(2L, s"$tmp/guarded")
    assert(guarded.checks == Map("id_pos" -> "id > 0"))
    intercept[Exception] {
      guarded.appendStats(Seq((-1L, "bad")).toDF("id", "v"), Seq("id"))
    }
  }

  test("CHECK constraints gate every write path and validate existing data") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-check").toString
    val t = GraftTable(spark, s"$tmp/t")
    t.overwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), Some("id"))
    t.addCheck("bal_nonneg", "bal >= 0")
    // a violated table rejects the constraint instead of grandfathering
    intercept[IllegalArgumentException] { t.addCheck("bad", "bal > 15") }
    // duplicate name rejected
    intercept[IllegalArgumentException] { t.addCheck("bal_nonneg", "bal >= 0") }

    // clean writes pass on every path
    t.appendStats(Seq((3L, 5.0)).toDF("id", "bal"), Seq("id"))
    t.merge(Seq((4L, 1.0)).toDF("id", "bal"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(t.snapshot.count() == 4)

    // violating rows fail the job and land NOTHING (append and merge)
    val vBefore = t.latestVersion
    val e1 = intercept[Exception] {
      t.appendStats(Seq((5L, -1.0)).toDF("id", "bal"), Seq("id"))
    }
    assert(e1.getMessage.contains("bal_nonneg") ||
      Option(e1.getCause).exists(_.getMessage.contains("bal_nonneg")))
    val e2 = intercept[Exception] {
      t.merge(Seq((6L, -2.0)).toDF("id", "bal"), Seq("id"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    }
    assert(e2.getMessage.contains("bal_nonneg") ||
      Option(e2.getCause).exists(_.getMessage.contains("bal_nonneg")))
    assert(t.latestVersion == vBefore, "failed writes must not commit")
    assert(t.snapshot.count() == 4)
    // NULL satisfies (SQL semantics)
    t.appendStats(Seq((7L, Option.empty[Double])).toDF("id", "bal"), Seq("id"))
    assert(t.snapshot.count() == 5)
    // constraints persist across handles; dropCheck re-opens the gate
    val t2 = GraftTable(spark, s"$tmp/t")
    assert(t2.checks == Map("bal_nonneg" -> "bal >= 0"))
    t2.dropCheck("bal_nonneg")
    t2.appendStats(Seq((8L, -3.0)).toDF("id", "bal"), Seq("id"))
    assert(t2.snapshot.count() == 6)
  }

  test("DESCRIBE DETAIL answers from metadata only") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-detail").toString
    val t = GraftTable(spark, s"$tmp/t")
    t.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), Some("id"))
    t.addCheck("id_pos", "id > 0")
    t.merge(Seq((200L, "new")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withChangeFeed().execute()
    val d = t.detail.collect().head
    assert(d.getAs[String]("format") == "graft")
    assert(d.getAs[Long]("version") == 2L)
    assert(d.getAs[Long]("num_rows") == 101L)
    assert(d.getAs[Long]("num_files") == t.latestManifest.get.allFiles.toLong)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[String]("last_operation") == "merge")
    assert(d.getAs[Long]("num_checks") == 1L)
    assert(d.getAs[Long]("num_change_feed_versions") == 1L)
  }

  test("relPathExpr: anchored fast path, off-root marker mid-string untouched") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-rel").toString
    val t = GraftTable(spark, root)
    val rootAbs = java.nio.file.Paths.get(root).toAbsolutePath.toString
    val cases = Seq(
      // engine renderings: Hadoop Path, SparkPath triple-slash, raw
      (s"file:$rootAbs/data/ab/p.parquet", "data/ab/p.parquet"),
      (s"file://$rootAbs/data/ab/p.parquet", "data/ab/p.parquet"),
      (s"$rootAbs/data/ab/p.parquet", "data/ab/p.parquet"),
      // percent-encoded rendering decodes first
      (s"file:$rootAbs/data/a%20b/p.parquet", "data/a b/p.parquet"),
      // OFF-ROOT path containing "<root>/" mid-string: must NOT be
      // relativized at the mid-string occurrence (anchored semantics —
      // the regex fallback leaves it intact apart from the scheme)
      (s"file:/elsewhere$rootAbs/data/p.parquet",
        s"/elsewhere$rootAbs/data/p.parquet"),
      // off-root path with no marker at all: scheme stripped only
      ("file:/other/root/x.parquet", "/other/root/x.parquet"))
    import spark.implicits._
    val got = cases.map(_._1).toDF("fp")
      .select(t.relPathExpr(col("fp")).as("rel")).collect().map(_.getString(0))
    got.zip(cases.map(_._2)).foreach { case (g, w) =>
      assert(g == w, s"got $g want $w") }
  }

  test("relPathExpr refuses the filesystem root as a table root") {
    import org.apache.spark.sql.functions.col
    // with root "/" the marker is "//", and "file:" + marker is a prefix
    // of "file:/" + marker: the fast path's literals stop being exclusive
    val e = intercept[IllegalArgumentException](
      GraftTable(spark, "/").relPathExpr(col("fp")))
    assert(e.getMessage.contains("filesystem root"))
  }

  test("overwritePartitioned with no stats list keeps the stats contract") {
    val t = GraftTable(spark, Files.createTempDirectory("graft-opstats").toString)
    t.overwriteStats((1L to 100L).map(i => (i, i % 3, s"v$i")).toDF("id", "p", "v"),
      Seq("id"))
    t.overwritePartitioned(
      (101L to 200L).map(i => (i, i % 3, s"v$i")).toDF("id", "p", "v"), Seq("p"))
    val files = t.latestManifest.get.files
    assert(files.nonEmpty && files.forall(f =>
      graft.sources.StatsPruning.fileRanges(f).contains("id")),
      s"re-declared layout dropped the id stats: ${files.map(_.ranges)}")
  }
}
