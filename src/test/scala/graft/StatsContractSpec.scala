package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftTable, ManifestFile, StatsPruning}

/** The stats contract: a write that names no stats columns, and a
  * rewrite that names only its keys, carry the min/max columns the live
  * files already carry, read from the manifest alone.
  */
class StatsContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-contract").toString

  private def added(t: GraftTable, before: Set[String]): Seq[ManifestFile] =
    t.filesOf(t.latestManifest.get).filterNot(f => before.contains(f.path))

  test("a stats-less DataFrameWriter append inherits the table's stats columns") {
    val root = tmp()
    val t = GraftTable(spark, root)
    t.overwriteStats((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val before = t.filesOf(t.latestManifest.get).map(_.path).toSet
    (101L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.format("graft").mode("append").save(root)
    val fresh = added(t, before)
    assert(fresh.nonEmpty && fresh.forall(f => StatsPruning.fileRanges(f).contains("id")),
      s"appended files without id ranges: ${fresh.map(_.ranges)}")
    assert(t.snapshot.count() == 200)
  }

  test("a merge keeps the non-pk stats columns on the files it rewrites") {
    val t = GraftTable(spark, tmp())
    t.overwriteStats((1L to 100L).map(i => (i, i * 10, s"v$i")).toDF("id", "n", "v"),
      Seq("id", "n"))
    val before = t.filesOf(t.latestManifest.get).map(_.path).toSet
    t.merge(Seq((5L, -1L, "x"), (500L, 7L, "y")).toDF("id", "n", "v"), Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    val fresh = added(t, before)
    assert(fresh.nonEmpty && fresh.forall { f =>
      val r = StatsPruning.fileRanges(f)
      r.contains("id") && r.contains("n")
    }, s"merge-written files lost their n ranges: ${fresh.map(_.ranges)}")
    assert(t.snapshot.filter(col("n") === -1L).count() == 1)
  }

  test("a stats-less append on a chunked table opens no chunk") {
    val root = tmp()
    val t = GraftTable(spark, root)
    t.manifestChunkFiles = 3
    t.overwriteStats((0L until 300L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(15, col("id")), Seq("id"))
    val m = t.latestManifest.get
    assert(m.files.isEmpty && m.chunks.exists(_.nonEmpty),
      "15 files at threshold 3 must all sit behind chunk refs")
    // a fresh instance has a cold chunk cache: any chunk the append
    // opens is counted
    val fresh = GraftTable(spark, root)
    fresh.append(Seq((1000L, "x")).toDF("id", "v"))
    assert(fresh.chunkReads.get() == 0L,
      s"the append opened ${fresh.chunkReads.get()} chunk(s)")
    val inline = fresh.latestManifest.get.files
    assert(inline.nonEmpty && inline.forall(f => StatsPruning.fileRanges(f).contains("id")),
      s"appended files without id ranges: ${inline.map(_.ranges)}")
  }
}
