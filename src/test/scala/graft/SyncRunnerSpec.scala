package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{ConfigStore, Entity, SimulatedCrash, SyncRunner}
import graft.sources.GraftTable

/** [[SyncRunner]] — syncMirror wired to a DURABLE cursor through the
  * watermark protocol: the cursor only advances on close, so a crash
  * between merge and close re-syncs idempotently from the old cursor
  * (effectively-once, the reference's open→work→close progress record).
  */
class SyncRunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture() = {
    val dir = Files.createTempDirectory("graft-syncrunner").toString
    val config = new ConfigStore(spark, s"$dir/control")
    config.registerEntities(Seq(
      Entity(7L, "src", "mirror.src", "silver", "gold", "CT", None, "_row_id")))
    val source = GraftTable(spark, s"$dir/src")
    source.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), Some("k"))
    source.enableRowTracking()
    val mirror = GraftTable(spark, s"$dir/mirror")
    (config, source, mirror, new SyncRunner(spark, config, source, mirror, 7L))
  }

  private def rowsOf(t: GraftTable): Set[(Long, String)] =
    t.snapshot.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("bootstrap → incremental → no-op skip, cursor durable across runner instances") {
    val (config, source, mirror, runner) = fixture()
    val r1 = runner.runOnce()
    assert(r1.action == "bootstrap" && r1.oldCursor == 0L)
    assert(rowsOf(mirror) == rowsOf(source))

    source.update(Map("k" -> "20"), "k = 2") // key-changing update
    source.delete("k = 3")
    source.append(Seq((4L, "d")).toDF("k", "v"))

    // a FRESH runner (new process) picks the cursor up from the store
    val runner2 = new SyncRunner(spark, config, source, mirror, 7L)
    val r2 = runner2.runOnce()
    assert(r2.action == "incremental" && r2.oldCursor == r1.newCursor)
    assert(rowsOf(mirror) == Set((1L, "a"), (20L, "b"), (4L, "d")))
    assert(rowsOf(mirror) == rowsOf(source))

    // nothing committed since → no watermark rows, no work
    val r3 = runner2.runOnce()
    assert(r3.action == "skip" && r3.watermarkId.isEmpty)
    assert(r3.newCursor == r2.newCursor)
  }

  test("crash between merge and close: resume re-syncs idempotently from the old cursor") {
    val (config, source, mirror, runner) = fixture()
    runner.runOnce() // bootstrap, closed

    source.update(Map("v" -> "'B'"), "k = 2")
    source.delete("k = 1")
    // the merge lands, the close never does
    intercept[SimulatedCrash] { runner.runOnceImpl(crashBeforeClose = true) }
    assert(rowsOf(mirror) == rowsOf(source), "merge itself landed")
    val stale = runner.cursor

    source.append(Seq((9L, "z")).toDF("k", "v")) // more work after the crash

    val resumed = new SyncRunner(spark, config, source, mirror, 7L)
    val r = resumed.runOnce()
    // the crashed cycle's open record was ignored: resume started from
    // the PRE-crash cursor and replayed the already-merged window
    assert(r.oldCursor == stale)
    assert(rowsOf(mirror) == Set((2L, "B"), (3L, "c"), (9L, "z")))
    assert(rowsOf(mirror) == rowsOf(source))
    // and the replay is exact: no duplicate rows from the re-merge
    assert(mirror.snapshot.count() == source.snapshot.count())
  }

  test("crash before the bootstrap's close: resume re-runs the bootstrap overwrite") {
    val (config, source, mirror, runner) = fixture()
    intercept[SimulatedCrash] { runner.runOnceImpl(crashBeforeClose = true) }
    assert(mirror.exists, "bootstrap overwrite landed before the crash")
    assert(runner.cursor == 0L, "cursor never advanced")

    source.append(Seq((4L, "d")).toDF("k", "v"))
    val r = new SyncRunner(spark, config, source, mirror, 7L).runOnce()
    assert(r.action == "bootstrap", "cursor 0 + existing mirror = re-bootstrap")
    assert(rowsOf(mirror) == rowsOf(source))
  }

  test("syncMirror from cursor 0 onto an existing mirror re-bootstraps") {
    val (_, source, mirror, runner) = fixture()
    // the bootstrap landed, its close did not: cursor 0, mirror exists
    intercept[SimulatedCrash] { runner.runOnceImpl(crashBeforeClose = true) }
    assert(runner.cursor == 0L && mirror.exists)
    source.delete("k = 2")
    source.append(Seq((4L, "d")).toDF("k", "v"))
    val now = source.latestVersion.get

    assert(source.syncMirror(mirror, 0L, Some(now)) == now)
    val want = source.snapshotWithRowIdsAt(now).drop(GraftTable.RowCommitOut)
    val got = mirror.snapshot.select(want.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(rowsOf(mirror) == Set((1L, "a"), (3L, "c"), (4L, "d")))
  }

  test("orchestrator: per-entity cursors advance independently across a sweep") {
    val dir = Files.createTempDirectory("graft-syncorch").toString
    val config = new ConfigStore(spark, s"$dir/control")
    config.registerEntities(Seq(
      Entity(1L, "alpha", "m.alpha", "src", "mirror", "CT", None, "_row_id"),
      Entity(2L, "beta", "m.beta", "src", "mirror", "CT", None, "_row_id")))
    val orch = new graft.pipeline.SyncOrchestrator(
      spark, config, s"$dir/src", s"$dir/mirrors")
    val alpha = GraftTable(spark, s"$dir/src/alpha")
    val beta = GraftTable(spark, s"$dir/src/beta")
    for (t <- Seq(alpha, beta)) {
      t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Some("k"))
      t.enableRowTracking()
    }
    val r1 = orch.run(parallelism = 2)
    assert(r1.map(_.action) == Seq("bootstrap", "bootstrap"))
    // only alpha changes: beta's cycle must short-circuit, alpha syncs
    alpha.update(Map("v" -> "'a2'"), "k = 1")
    val r2 = orch.run()
    assert(r2.map(r => r.entityId -> r.action).toMap ==
      Map(1L -> "incremental", 2L -> "skip"))
    for (e <- config.entities)
      assert(rowsOf(orch.mirrorTable(e)) == rowsOf(orch.sourceTable(e)))
    // a crash mid-sweep on one entity leaves the other's cursor intact;
    // the next sweep heals only the crashed one
    beta.delete("k = 2")
    intercept[SimulatedCrash] {
      new SyncRunner(spark, config, beta, orch.mirrorTable(
        config.entities.find(_.entityId == 2L).get), 2L)
        .runOnceImpl(crashBeforeClose = true)
    }
    val r3 = orch.run()
    assert(r3.map(r => r.entityId -> r.action).toMap ==
      Map(1L -> "skip", 2L -> "incremental"))
    for (e <- config.entities)
      assert(rowsOf(orch.mirrorTable(e)) == rowsOf(orch.sourceTable(e)))
  }

  test("sync is pinned: a commit landing mid-cycle waits for the next cycle") {
    val (config, source, mirror, runner) = fixture()
    runner.runOnce()
    source.append(Seq((5L, "e")).toDF("k", "v"))
    val pinned = source.latestVersion.get
    val r = runner.runOnce()
    assert(r.newCursor == pinned)
    // a later commit is NOT in the closed cursor — next cycle picks it up
    source.append(Seq((6L, "f")).toDF("k", "v"))
    assert(new SyncRunner(spark, config, source, mirror, 7L).cursor == pinned)
    val r2 = new SyncRunner(spark, config, source, mirror, 7L).runOnce()
    assert(r2.action == "incremental" && rowsOf(mirror) == rowsOf(source))
  }
}
