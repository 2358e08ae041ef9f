package nrtbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.pipeline.{Entity, LoadResult}
import graft.sources.GraftTable

/** ct_merge_hot: closed loop, one client. One large CT entity; each cycle
  * appends a change batch that mostly updates the most recent keys, then
  * loads it and reads it back. Merge and the extractor do most of the
  * work; the reads use the same table layer from the other side, so a
  * write-side gain that costs file pruning or read planning shows.
  */
final class CtMergeHot(ctx: Ctx) extends Workload {
  import CtMergeHot._
  private val spark = ctx.spark
  private val shape = LineitemShape(new Mix(ctx.seed))
  private val rng = new SplittableRandom(ctx.seed)

  // ground truth: rev(id) > 0 is live at that revision, 0 is absent
  private var rev: Array[Int] = _
  private var maxId = 0L
  private val changed = mutable.HashMap.empty[Long, Int]
  private var count, sumQty, sumPrice, sumRev = 0L
  private var version = 1L

  private var src, db = ""
  private var loader: BenchLoader = _
  private var config: TracedConfigStore = _
  override def controlPlane: Option[graft.pipeline.ConfigStore] = Option(config)
  private val loadedAt = scala.collection.concurrent.TrieMap.empty[Long, Long]
  private val entity = (db: String) =>
    Entity(1L, "lineitem", s"$db.lineitem", "src", "silver", "CT", None, "l_id")

  def describe: Map[String, Any] = Map(
    "loop" -> "closed", "clients" -> 1, "rows" -> Rows, "chunk_rows" -> ChunkRows,
    "batch_keys" -> Batch, "inserts" -> Inserts, "deletes" -> Deletes,
    "hot_keys" -> Hot, "lookups_per_cycle" -> (LookupsChanged + LookupsDeleted), "scans_per_cycle" -> Scans,
    "warm_up_cycles" -> WarmUp)

  def setup(rep: Int, dir: String): Unit = {
    src = s"$dir/src"
    db = s"s$rep"
    rev = new Array[Int](Rows * 2)
    maxId = Rows
    changed.clear()
    count = 0; sumQty = 0; sumPrice = 0; sumRev = 0
    for (id <- 1L to Rows) {
      rev(id.toInt - 1) = 1
      count += 1; sumQty += shape.quantity(id, 1); sumPrice += shape.price(id, 1); sumRev += 1
    }
    version = 1L
    ctx.tracer.span("gen") {
      val w = ctx.writer
      val parts = w.write(shape.frame(
        spark.range(1, Rows + 1, 1, Rows / ChunkRows).select(col("id"), lit(1).as("rev"))))
      parts.zipWithIndex.foreach { case (p, i) => w.move(p, chunkPath(i)) }
      w.single(spark.range(1, Rows + 1).select(col("id").as("l_id"),
        lit(1L).as("SYS_CHANGE_VERSION"), lit("I").as("SYS_CHANGE_OPERATION")),
        changePath(1))
    }
    config = new TracedConfigStore(spark, s"$dir/control", ctx.tracer)
    config.registerEntities(Seq(entity(db)))
    loader = new BenchLoader(spark, config, src, s"$dir/silver", ctx.tracer,
      (e: Entity, _: LoadResult, at: Long) => loadedAt(e.entityId) = at)
    val r = loader.run().head
    ctx.tracer.span("setup.check")(
      require(r.action == "full" && r.rowsExtracted == Rows, s"bootstrap load: $r"))
  }

  def discard(): Unit = ()

  def silverTables: Seq[GraftTable] = Seq(loader.silverTable(entity(db)))

  def warmUp(rec: Recorder): Unit = (1 to WarmUp).foreach(_ => cycle(rec))

  def measure(seconds: Double, rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    rec.measuring = true
    while (System.nanoTime() - t0 < seconds * 1e9) cycle(rec)
    rec.measuredSeconds = (System.nanoTime() - t0) / 1e9
    rec.measuring = false
  }

  private def live(id: Long): Boolean = id <= maxId && rev(id.toInt - 1) > 0

  private def setRev(id: Long, r: Int): Unit = {
    val old = rev(id.toInt - 1)
    if (old > 0) { count -= 1; sumQty -= shape.quantity(id, old); sumPrice -= shape.price(id, old); sumRev -= old }
    if (r > 0) { count += 1; sumQty += shape.quantity(id, r); sumPrice += shape.price(id, r); sumRev += r }
    rev(id.toInt - 1) = r
    if (r == 1) changed.remove(id) else changed(id) = r
  }

  /** One cycle: change the source, commit the change log, load, read. */
  private def cycle(rec: Recorder): Unit = {
    version += 1
    val (ups, dels, ins) = ctx.tracer.span("gen") {
      val picked = mutable.LinkedHashSet.empty[Long]
      val lo = maxId - Hot
      while (picked.size < Batch - Inserts)
        { val id = lo + 1 + rng.nextLong(Hot); if (live(id)) picked += id }
      val (dels, ups) = picked.toSeq.splitAt(Deletes)
      val ins = (maxId + 1 to maxId + Inserts).toSeq
      maxId += Inserts
      if (maxId > rev.length) rev = java.util.Arrays.copyOf(rev, rev.length * 2)
      ups.foreach(id => setRev(id, rev(id.toInt - 1) + 1))
      dels.foreach(id => setRev(id, 0))
      ins.foreach(id => setRev(id, 1))
      val touched = (ups ++ dels ++ ins).map(id => ((id - 1) / ChunkRows).toInt).distinct.sorted
      touched.foreach { c =>
        val lo = c.toLong * ChunkRows + 1
        val hi = math.min((c + 1).toLong * ChunkRows, maxId)
        val rows = (lo to hi).filter(live).map(id => Row(id, rev(id.toInt - 1)))
        ctx.writer.single(shape.frame(ctx.writer.local(rows, ctx.writer.idRevSchema)), chunkPath(c))
      }
      ctx.writer.single(ctx.writer.changes("l_id",
        ups.map(id => (id, version, "U")) ++ dels.map(id => (id, version, "D")) ++
          ins.map(id => (id, version, "I"))), changePath(version))
      (ups, dels, ins)
    }
    val committed = System.nanoTime()
    val r = loader.run().head
    val n = ups.size + dels.size + ins.size
    rec.check(r.action == "incremental" && r.rowsExtracted == n,
      s"load of version $version: $r (expected $n rows)")
    rec.sample(rec.fresh, (loadedAt(1L) - committed) / 1e9)
    if (rec.measuring) rec.rowsVisible += r.rowsExtracted
    val keys = pick(ups ++ ins, LookupsChanged) ++ pick(dels, LookupsDeleted)
    keys.foreach(lookup(_, rec))
    (1 to Scans).foreach(_ => scan(rec))
  }

  private def pick(xs: Seq[Long], k: Int): Seq[Long] =
    (1 to k).map(_ => xs(rng.nextInt(xs.size)))

  private def filesInTable: Long =
    silverTables.head.latestManifest.map(m => silverTables.head.filesOf(m).size.toLong).getOrElse(0L)

  private def lookup(id: Long, rec: Recorder): Unit = {
    val (rows, s) = ctx.reads.run("lookup",
      s"SELECT ${shape.cols.mkString(", ")} FROM $db.lineitem WHERE l_id = $id", filesInTable)
    val want = if (live(id)) Seq(Render(shape.values(id, rev(id.toInt - 1)))) else Nil
    val got = rows.toSeq.map(Render.row)
    rec.check(got == want, s"lookup l_id=$id: got $got, want $want")
    rec.sample(rec.lookups, s)
  }

  private def scan(rec: Recorder): Unit = {
    val (rows, s) = ctx.reads.run("scan",
      s"SELECT count(*), sum(l_quantity), sum(l_price_cents), sum(l_rev) FROM $db.lineitem",
      filesInTable)
    val want = Render(Seq(count, sumQty, sumPrice, sumRev))
    val got = rows.headOption.map(Render.row).getOrElse("")
    rec.check(got == want, s"scan: got $got, want $want")
    rec.sample(rec.scans, s)
  }

  def verify(rec: Recorder): Unit = {
    val overrides = ctx.writer.local(
      changed.toSeq.map { case (id, r) => Row(id, r) }, ctx.writer.idRevSchema)
      .withColumnRenamed("rev", "ov")
    val expected = shape.frame(spark.range(1, maxId + 1)
      .join(broadcast(overrides), Seq("id"), "left")
      .select(col("id"), coalesce(col("ov"), lit(1)).as("rev"))
      .filter(col("rev") > 0))
    rec.check(Check.sameRows(spark.table(s"$db.lineitem").select(shape.cols.map(col): _*), expected),
      s"final state of $db.lineitem differs from the generator's")
  }

  private def chunkPath(c: Int) = f"$src/lineitem.parquet/chunk-$c%05d.parquet"
  private def changePath(v: Long) = f"$src/lineitem_changes.parquet/chg-$v%06d.parquet"
}

object CtMergeHot {
  val Rows = 50000
  val ChunkRows = 5000
  val Batch = 500
  val Inserts = 50
  val Deletes = 5
  val Hot = 2500L
  val LookupsChanged = 6
  val LookupsDeleted = 2
  val Scans = 2
  val WarmUp = 2
}
