package graft

import java.nio.file.{Files, Path}
import java.util.ConcurrentModificationException

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{ConfigStore, Entity}
import graft.sources.{CommitStore, GraftTable, LocalCommitStore}

/** A store on which every manifest put-if-absent loses (another writer
  * always "got there first"); everything else is the local store.
  */
final class LosingStore extends CommitStore {
  @volatile var manifestPuts = 0
  override def putIfAbsent(target: Path, content: String): Boolean =
    if (target.getFileName.toString.startsWith("manifest-v")) { manifestPuts += 1; false }
    else LocalCommitStore.putIfAbsent(target, content)
  override def write(target: Path, content: String): Unit = LocalCommitStore.write(target, content)
  override def replace(target: Path, content: String): Unit = LocalCommitStore.replace(target, content)
  override def read(path: Path): String = LocalCommitStore.read(path)
  override def list(dir: Path): Seq[String] = LocalCommitStore.list(dir)
  override def exists(path: Path): Boolean = LocalCommitStore.exists(path)
  override def mkdirs(dir: Path): Unit = LocalCommitStore.mkdirs(dir)
  override def delete(path: Path): Unit = LocalCommitStore.delete(path)
}

/** The one lost-race policy every version-log writer shares: re-read
  * and retry a lost manifest put, give up after 50 with the last loss;
  * and the append rebase it applies to COPY INTO's linked files.
  */
class CommitRetrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-retry").toString

  private def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("k", "v")

  private def table(): String = {
    val root = s"${tmp()}/t"
    GraftTable(spark, root).overwrite(rows(1L, 20L), Some("k"))
    root
  }

  /** `write` against a table whose every manifest put loses. */
  private def givesUpAfter50(root: String)(write: GraftTable => Any): Unit = {
    val store = new LosingStore
    intercept[ConcurrentModificationException](write(GraftTable(spark, root, store)))
    assert(store.manifestPuts == 50)
  }

  test("append gives up after 50 lost commit races") {
    givesUpAfter50(table())(_.append(rows(21L, 30L), Some("k")))
  }

  test("COPY INTO's fast path gives up after 50 lost commit races") {
    val root = table()
    val src = s"${tmp()}/in"
    rows(21L, 30L).write.parquet(src)
    givesUpAfter50(root)(_.copyInto(src, Seq("k")))
    assert(GraftTable(spark, root).snapshot.count() == 20)
  }

  test("merge gives up after 50 lost commit races") {
    givesUpAfter50(table())(_.merge(rows(15L, 25L), Seq("k"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
  }

  test("enableRowTracking gives up after 50 lost commit races") {
    givesUpAfter50(table())(_.enableRowTracking())
  }

  /** A `ConfigStore` over `ctl` whose tables all lose every manifest put,
    * installed through the process-wide store provider.
    */
  private def losingConfigStore(ctl: String)(
      body: ConfigStore => Any): (LosingStore, ConcurrentModificationException) = {
    val store = new LosingStore
    val saved = CommitStore.provider
    CommitStore.provider = r => if (r.startsWith(ctl)) store else saved(r)
    try (store, intercept[ConcurrentModificationException](body(new ConfigStore(spark, ctl))))
    finally CommitStore.provider = saved
  }

  private def controlPlane(): (String, Long) = {
    val ctl = s"${tmp()}/control"
    val cs = new ConfigStore(spark, ctl)
    cs.registerEntities(Seq(Entity(1L, "e", "db.e", "src", "silver", "CT", None, "id")))
    (ctl, cs.openWatermark(1L, "CT", "5"))
  }

  test("openWatermark gives up after 50 lost commit races") {
    val (ctl, _) = controlPlane()
    assert(losingConfigStore(ctl)(_.openWatermark(1L, "CT", "6"))._1.manifestPuts == 50)
  }

  test("closeWatermark gives up after 50 lost commit races, rethrowing the last loss") {
    val (ctl, id) = controlPlane()
    val (store, e) = losingConfigStore(ctl)(_.closeWatermark(id))
    assert(store.manifestPuts == 50)
    assert(e.getMessage.contains("already committed"), e.getMessage)
    // the open stays open: nothing landed
    assert(new ConfigStore(spark, ctl).watermarksDf.where(s"WatermarkId = $id")
      .where("LoadEndDatetime IS NULL").count() == 1)
  }

  /** A COPY INTO fast path of `incoming` whose commit races `concurrent`. */
  private def racingCopy(concurrent: GraftTable => Any, initial: DataFrame = rows(1L, 20L),
      incoming: DataFrame = rows(21L, 30L)): (GraftTable, () => Long) = {
    val root = s"${tmp()}/t"
    GraftTable(spark, root).overwrite(initial, Some("k"))
    val src = s"${tmp()}/in"
    incoming.write.parquet(src)
    val store = new RacingStore(root)
    val t = GraftTable(spark, root, store)
    store.arm(() => { concurrent(GraftTable(spark, root)); () })
    (t, () => { val v = t.copyInto(src, Seq("k")); assert(store.fired); v })
  }

  test("COPY INTO's fast path rebases over a racing ADD COLUMN") {
    val (t, copy) = racingCopy(_.addColumn("note", "STRING"))
    val v = copy()
    assert(t.history.take(2).map(h => (h.version, h.operation)) ==
      Seq((v, "append"), (v - 1, "add column")))
    val out = t.snapshot
    assert(out.columns.toSeq == Seq("k", "v", "note"))
    assert(out.count() == 30)
    assert(out.where("k > 20").where("note IS NULL AND v = k * 1.0").count() == 10)
  }

  test("COPY INTO's fast path racing DROP COLUMN of a copied column fails naming it") {
    val (t, copy) = racingCopy(_.dropColumn("v"))
    val e = intercept[ConcurrentModificationException](copy())
    assert(e.getMessage.contains("COPY INTO conflict") &&
      e.getMessage.contains("column(s) v "), e.getMessage)
    // nothing landed and the dropped column stays dropped
    assert(t.snapshot.columns.toSeq == Seq("k"))
    assert(t.snapshot.count() == 20)
  }

  test("COPY INTO's fast path rebases over a racing lossless widen") {
    def ints(lo: Int, hi: Int) = (lo to hi).map(i => (i.toLong, i)).toDF("k", "n")
    val (t, copy) = racingCopy(_.widenColumn("n", "BIGINT"), ints(1, 20), ints(21, 30))
    copy()
    assert(t.snapshot.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(t.snapshot.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) ==
      (1L to 30L).sum)
  }

  test("an append racing an overwrite that retypes one of its columns fails naming it") {
    val root = table()
    val store = new RacingStore(root)
    store.arm(() => {
      GraftTable(spark, root).overwrite(Seq((1L, "x")).toDF("k", "v"), Some("k")); ()
    })
    val e = intercept[ConcurrentModificationException](
      GraftTable(spark, root, store).append(rows(21L, 30L), Some("k")))
    assert(store.fired && e.getMessage.contains("retyped column(s) v "), e.getMessage)
    assert(GraftTable(spark, root).snapshot.collect().toSeq.map(_.toSeq) == Seq(Seq(1L, "x")))
  }
}
