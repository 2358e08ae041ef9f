package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CommitStore, GraftTable, StatsPruning}

/** A [[CommitStore]] that lands one concurrent commit just before the
  * first manifest put after [[arm]]: the writer holding this store then
  * loses the race deterministically, and must rebase or fail.
  */
final class RacingStore(root: String) extends CommitStore {
  private val inner = CommitStore.forRoot(root)
  @volatile private var pending: Option[() => Unit] = None
  @volatile var fired = false
  def arm(concurrent: () => Unit): Unit = { fired = false; pending = Some(concurrent) }
  override def putIfAbsent(target: java.nio.file.Path, content: String): Boolean = {
    if (target.getFileName.toString.startsWith("manifest-v")) pending.foreach { f =>
      pending = None; f(); fired = true
    }
    inner.putIfAbsent(target, content)
  }
  override def write(target: java.nio.file.Path, content: String): Unit = inner.write(target, content)
  override def replace(target: java.nio.file.Path, content: String): Unit = inner.replace(target, content)
  override def read(path: java.nio.file.Path): String = inner.read(path)
  override def list(dir: java.nio.file.Path): Seq[String] = inner.list(dir)
  override def exists(path: java.nio.file.Path): Boolean = inner.exists(path)
  override def mkdirs(dir: java.nio.file.Path): Unit = inner.mkdirs(dir)
  override def delete(path: java.nio.file.Path): Unit = inner.delete(path)
}

/** Compaction + vacuum — the maintenance half of the table format. */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compact bin-packs small files and preserves contents + pruning stats") {
    val t = GraftTable(spark, Files.createTempDirectory("graft-opt").toString)
    // 5 incremental loads → many small files
    t.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), Some("id"))
    for (b <- 1 to 4)
      t.append(((b * 100 + 1).toLong to (b * 100 + 100).toLong)
        .map(i => (i, s"v$i")).toDF("id", "v"), Some("id"))
    val before = t.latestManifest.get.files.length
    val v = t.compact(targetFileRows = 250)
    val m = t.latestManifest.get
    assert(m.version == v)
    assert(m.files.length < before, s"expected fewer files, got ${m.files.length} vs $before")
    assert(t.snapshot.count() == 500)
    assert(t.snapshot.agg(sum("id")).head().getLong(0) == (1L to 500L).sum)
    // range-sorted compaction keeps min/max tight: file ranges must not all overlap
    val ranges = m.files.flatMap(f => for (lo <- f.min; hi <- f.max) yield (lo.toLong, hi.toLong))
    assert(ranges.nonEmpty && ranges.forall { case (lo, hi) => lo <= hi })
    val sorted = ranges.sortBy(_._1)
    assert(sorted.zip(sorted.tail).forall { case ((_, hi1), (lo2, _)) => hi1 <= lo2 },
      s"compacted file ranges should be disjoint, got $sorted")
  }

  test("compactWhere packs only the predicate's files; cold files untouched") {
    val t = GraftTable(spark, Files.createTempDirectory("graft-optw").toString)
    // cold half: two well-packed range files over 1..200
    t.overwriteStats((1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(2, col("id")), Seq("id"))
    // hot tail: four small appends in 201..280
    for (b <- 0 until 4)
      t.append(((201L + b * 20) until (221L + b * 20))
        .map(i => (i, s"v$i")).toDF("id", "v"), Some("id"))
    val before = t.filesOf(t.latestManifest.get)
    assert(before.length > 6) // 2 cold + 4 appends x several part files
    val cold = before.filter(_.max.exists(_.toLong <= 200L)).map(_.path).toSet
    assert(cold.size == 2)

    // >= 201, not > 200: pruning bounds are INCLUSIVE (strict bounds
    // keep a file whose range ends exactly at the literal — sound, just
    // a boundary file more than necessary)
    val v = spark.sql(s"OPTIMIZE graft.`${t.root}` WHERE id >= 201")
      .head().getLong(0)
    val after = t.filesOf(t.manifest(v))
    // the two cold files ride by reference; the four hot files packed
    assert(after.map(_.path).toSet.intersect(cold) == cold,
      "cold files outside the predicate must not be rewritten")
    assert(after.length < before.length)
    assert(t.snapshot.count() == 280)
    assert(t.snapshot.agg(sum("id")).head().getLong(0) == (1L to 280L).sum)

    // converged: a second run with nothing under-sized is a no-op
    assert(t.compactWhere("id >= 201", targetFileRows = 10) == v)
    // a DV-masked file inside the predicate IS rework: the mask
    // materializes away even at target size
    t.delete("id = 250", deletionVectors = Some(true))
    val v2 = t.compactWhere("id >= 201")
    assert(v2 > v)
    assert(t.filesOf(t.manifest(v2)).forall(_.dv.isEmpty))
    assert(t.snapshot.count() == 279)
  }

  test("z-order compaction keeps both key columns prunable") {
    val t = GraftTable(spark, Files.createTempDirectory("graft-z").toString)
    // uniform 64x64 grid over (k1, k2), written in k1-sorted order (the
    // worst case for k2 pruning under a plain single-column compact)
    val grid = (for (a <- 1 to 64; b <- 1 to 64) yield (a.toLong, b.toLong, a * 1000L + b))
      .toDF("k1", "k2", "v")
    t.overwriteStats(grid, Seq("k1", "k2"))
    t.compactZOrder("k1", "k2", targetFileRows = 1024) // → 4 files
    val m = t.latestManifest.get
    assert(m.operation.contains("zorder"))
    assert(t.snapshot.count() == 4096)
    // every file's range must cover < the full span on BOTH columns —
    // z-ordering splits the grid into quadrant-ish tiles
    val ranges = m.files.map { f =>
      val r = f.ranges.get
      (r("k1").head.toLong, r("k1")(1).toLong, r("k2").head.toLong, r("k2")(1).toLong)
    }
    assert(ranges.size >= 4)
    assert(ranges.forall { case (lo1, hi1, lo2, hi2) =>
      (hi1 - lo1) < 63 || (hi2 - lo2) < 63
    }, s"every file should be tight on at least one column: $ranges")
    // a point merge must prune most files on the two-column conjunction
    val before = m.files.map(_.path).toSet
    t.merge(Seq((3L, 3L, -1L)).toDF("k1", "k2", "v"), Seq("k1", "k2"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val survivors = before.intersect(t.latestManifest.get.files.map(_.path).toSet)
    assert(survivors.size >= ranges.size / 2,
      s"point merge should prune at least half the z-ordered files, kept ${survivors.size}/${ranges.size}")
  }

  test("4-column z-order keeps every key column prunable") {
    val t = GraftTable(spark, Files.createTempDirectory("graft-z4").toString)
    // 8^4 grid written in k1-major order — worst case for k2..k4 pruning
    val grid = (for (a <- 1 to 8; b <- 1 to 8; c <- 1 to 8; d <- 1 to 8)
      yield (a.toLong, b.toLong, c.toLong, d.toLong)).toDF("k1", "k2", "k3", "k4")
    t.overwriteStats(grid, Seq("k1", "k2", "k3", "k4"))
    t.compactZOrderN(Seq("k1", "k2", "k3", "k4"), targetFileRows = 256) // → 16 files
    val m = t.latestManifest.get
    assert(t.snapshot.count() == 4096)
    val ranges = m.files.map { f =>
      val r = f.ranges.get
      Seq("k1", "k2", "k3", "k4").map(k => (r(k).head.toLong, r(k)(1).toLong))
    }
    assert(ranges.size >= 8)
    // each file must be tight (< half the span) on at least two of the
    // four columns — the signature of a multi-dim tiling vs a sort
    assert(ranges.forall(_.count { case (lo, hi) => (hi - lo) < 4 } >= 2),
      s"files not tiled on enough dimensions: $ranges")
    // ...and a 4-key point lookup prunes most files
    val hit = ranges.count(rs =>
      rs.zip(Seq(2L, 2L, 2L, 2L)).forall { case ((lo, hi), v) => v >= lo && v <= hi })
    assert(hit <= ranges.size / 4,
      s"point (2,2,2,2) intersects $hit of ${ranges.size} files")
  }

  test("z-order keeps the stats contract: pk ranges survive and a pk merge prunes") {
    val t = GraftTable(spark, Files.createTempDirectory("graft-zpk").toString)
    // a tracks id and b is two-valued, so z-ordering on (a, b) leaves
    // each file a tight id range
    val df = (1L to 4096L).map(i => (i, i / 8, i % 2, s"v$i")).toDF("id", "a", "b", "v")
    t.overwriteStats(df, Seq("id"))
    t.compactZOrder("a", "b", targetFileRows = 512) // → 8 files
    val m = t.latestManifest.get
    assert(m.operation.contains("zorder") && t.snapshot.count() == 4096)
    assert(m.files.size >= 4)
    assert(m.files.forall(f => StatsPruning.fileRanges(f).contains("id")),
      s"z-order dropped the id stats: ${m.files.map(_.ranges)}")
    val before = m.files.map(_.path).toSet
    t.merge(Seq((100L, 12L, 0L, "x")).toDF("id", "a", "b", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val survivors = before.intersect(t.latestManifest.get.files.map(_.path).toSet)
    assert(survivors.size >= before.size / 2,
      s"point merge on id should leave at least half the files, kept ${survivors.size}/${before.size}")
  }

  test("vacuum removes superseded files but keeps live versions readable") {
    val root = Files.createTempDirectory("graft-vac").toString
    val t = GraftTable(spark, root)
    t.overwrite((1L to 50L).map(i => (i, s"a$i")).toDF("id", "v"), Some("id"))
    t.overwrite((1L to 50L).map(i => (i, s"b$i")).toDF("id", "v"), Some("id")) // v1 files now dead
    def dataFiles(): Long = {
      val w = Files.walk(Paths.get(root, "data"))
      try w.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).count()
      finally w.close()
    }
    val before = dataFiles()
    val deleted = t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(deleted > 0, "v1's files should be reclaimed")
    assert(dataFiles() < before)
    // current snapshot unaffected; superseded version no longer pinnable
    assert(t.snapshot.count() == 50)
    assert(t.snapshot.filter(col("v") === "b1").count() == 1)
    intercept[Exception] { t.snapshotAt(1).count() }
  }

  test("VACUUM DRY RUN previews exactly what vacuum then deletes") {
    val root = Files.createTempDirectory("graft-vacdry").toString
    val t = GraftTable(spark, root)
    t.overwrite((1L to 40L).map(i => (i, s"a$i")).toDF("id", "v"), Some("id"))
    t.overwrite((1L to 40L).map(i => (i, s"b$i")).toDF("id", "v"), Some("id"))
    val preview = spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(0)).toSet
    assert(preview.nonEmpty && preview.forall(_.startsWith("data/")), s"$preview")
    // dry run deleted NOTHING: every previewed file still exists
    assert(preview.forall(p => Files.exists(Paths.get(root, p))))
    assert(t.snapshotAt(1).count() == 40, "v1 still readable after dry run")
    // the real vacuum reclaims exactly the previewed data files
    val deleted = spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS")
      .head().getInt(0)
    assert(deleted == preview.size,
      s"vacuum deleted $deleted, dry run previewed ${preview.size}")
    assert(preview.forall(p => !Files.exists(Paths.get(root, p))))
    // nothing left to preview
    assert(spark.sql(s"VACUUM graft.`$root` RETAIN 0 HOURS DRY RUN").count() == 0)
  }

  test("history records operations newest-first and survives vacuum") {
    val t = GraftTable(spark, Files.createTempDirectory("graft-hist").toString)
    t.overwrite(Seq((1L, "a")).toDF("id", "v"), Some("id"))
    t.append(Seq((2L, "b")).toDF("id", "v"), Some("id"))
    t.merge(Seq((2L, "B")).toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    t.compact(targetFileRows = 10)
    val ops = t.history.map(h => (h.version, h.operation))
    assert(ops == Seq((4L, "compact"), (3L, "merge"), (2L, "append"), (1L, "overwrite")))
    assert(t.history.head.rows == 2)
    t.vacuum(keepVersions = 2, minAgeMs = 0L)
    assert(t.history.map(_.version) == Seq(4L, 3L))
  }

  test("merge handles null primary keys as never-matching rows") {
    val t = GraftTable(spark, Files.createTempDirectory("graft-null").toString)
    t.overwrite(Seq((java.lang.Long.valueOf(1L), "a"), (null.asInstanceOf[java.lang.Long], "t-null"))
      .toDF("id", "v"), Some("id"))
    t.merge(Seq((java.lang.Long.valueOf(1L), "A"), (null.asInstanceOf[java.lang.Long], "s-null"))
      .toDF("id", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val got = t.snapshot.select("v").collect().map(_.getString(0)).toSet
    // null keys never match (SQL equality): both null rows survive side by side
    assert(got == Set("A", "t-null", "s-null"))
  }

  test("concurrent appends from many threads all land (lock-free retry)") {
    val t = GraftTable(spark, Files.createTempDirectory("graft-conc").toString)
    t.overwrite(Seq((0L, "seed")).toDF("id", "v"), Some("id"))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = (1 to 8).map { w =>
        Future {
          t.append(Seq((w.toLong, s"writer$w")).toDF("id", "v"), Some("id"))
        }
      }
      Await.result(Future.sequence(futures), 5.minutes)
    } finally pool.shutdown()
    assert(t.latestVersion.contains(9L), "8 appends + seed = 9 versions")
    assert(t.snapshot.count() == 9, "every writer's row must land")
    assert(t.snapshot.select("id").collect().map(_.getLong(0)).toSet == (0L to 8L).toSet)
  }

  test("vacuum reclaims orphan files from crashed writers") {
    val root = Files.createTempDirectory("graft-vac2").toString
    val t = GraftTable(spark, root)
    t.overwrite((1L to 10L).map(i => (i, i)).toDF("id", "v"), Some("id"))
    // simulate a crashed writer: data files written, no manifest commit
    (11L to 20L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$root/data/orphan-batch")
    val deleted = t.vacuum(keepVersions = 1, minAgeMs = 0L)
    assert(deleted > 0, "orphan batch should be reclaimed")
    assert(t.snapshot.count() == 10)
  }

  /** A table of 4 small files over ids 1..400 (columns id, a, b, v) whose
    * writes go through a [[RacingStore]].
    */
  private def racingTable(prefix: String): (GraftTable, RacingStore) = {
    val root = Files.createTempDirectory(prefix).toString
    val store = new RacingStore(root)
    val t = GraftTable(spark, root, store)
    def rows(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, i / 8, i % 2, s"v$i")).toDF("id", "a", "b", "v")
    t.overwriteStats(rows(1L, 100L), Seq("id"))
    for (k <- 1 to 3) t.append(rows(k * 100L + 1, k * 100L + 100), Some("id"))
    (t, store)
  }

  private def appendConcurrently(t: GraftTable): () => Unit = () => {
    GraftTable(spark, t.root).append((1001L to 1010L)
      .map(i => (i, i / 8, i % 2, s"new$i")).toDF("id", "a", "b", "v"), Some("id"))
    ()
  }

  private def ids(t: GraftTable): Set[Long] =
    t.snapshot.select("id").collect().map(_.getLong(0)).toSet

  test("compact racing an append of new keys rebases: every appended row lands") {
    val (t, store) = racingTable("graft-crace")
    store.arm(appendConcurrently(t))
    val v = t.compact(targetFileRows = 250)
    assert(store.fired, "the concurrent append never ran")
    assert(ids(t) == ((1L to 400L) ++ (1001L to 1010L)).toSet)
    assert(t.history.take(2).map(h => (h.version, h.operation)) ==
      Seq((v, "compact"), (v - 1, "append")))
  }

  test("z-order racing an append of new keys rebases: every appended row lands") {
    val (t, store) = racingTable("graft-zrace")
    store.arm(appendConcurrently(t))
    val v = t.compactZOrder("a", "b", targetFileRows = 200)
    assert(store.fired, "the concurrent append never ran")
    assert(ids(t) == ((1L to 400L) ++ (1001L to 1010L)).toSet)
    assert(t.history.take(2).map(h => (h.version, h.operation)) ==
      Seq((v, "zorder"), (v - 1, "append")))
  }

  test("compactWhere racing DROP COLUMN fails loudly and never brings the column back") {
    val (t, store) = racingTable("graft-droprace")
    store.arm(() => { GraftTable(spark, t.root).dropColumn("v"); () })
    val e = intercept[java.util.ConcurrentModificationException] {
      t.compactWhere("id >= 1", targetFileRows = 1000)
    }
    assert(e.getMessage.contains("re-mapped column(s) v"), e.getMessage)
    assert(t.scan.columns.toSeq == Seq("id", "a", "b"))
    assert(ids(t) == (1L to 400L).toSet)
  }

  test("REORG PURGE on a clustered partitioned table honours targetFileRows") {
    val t = GraftTable(spark, Files.createTempDirectory("graft-purgep").toString)
    t.overwritePartitioned(
      (1L to 400L).map(i => (i, i % 4, s"v$i")).toDF("id", "p", "v"), Seq("p"), Seq("id"))
    t.delete("id % 10 = 0", deletionVectors = Some(true))
    val live = t.latestManifest.get.allRows
    val before = t.latestManifest.get.files.map(_.path).toSet
    t.reorgPurge(targetFileRows = 200)
    val added = t.latestManifest.get.files.filterNot(f => before.contains(f.path))
    assert(added.nonEmpty && added.forall(_.dv.isEmpty))
    assert(added.size <= math.ceil(live / 200.0).toInt,
      s"purge wrote ${added.size} files for $live live rows at 200 rows/file")
    assert(ids(t) == (1L to 400L).filterNot(_ % 10 == 0).toSet)
  }
}
