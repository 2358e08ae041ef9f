package nrtbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.{GraftCatalog, GraftTable}
import graft.streaming.{StreamingGoldMirror, StreamingSilverLoader}

/** medallion_stream: open loop on a fixed schedule. A feed file is due
  * every `PeriodMs`; a StreamingSilverLoader (publishing its change feed,
  * silver row-tracked at setup) merges it into silver and a
  * StreamingGoldMirror tails silver into gold. The only workload that
  * drives stream triggers, the graft stream source's offsets and the
  * change-feed/row-id read; the batch loader and control plane idle.
  * Each file's latency counts from when it was DUE, so a generator
  * stall is charged to the files it delayed.
  */
final class MedallionStream(ctx: Ctx) extends Workload {
  import MedallionStream._
  private val spark = ctx.spark
  private val shape = Shape("m", new Mix(ctx.seed), withTs = false)
  private val rng = new SplittableRandom(ctx.seed)

  // ground truth. history(id) lists (file index, rev) with file -1 for
  // the bootstrap row and rev 0 for a delete; aggs(p) is (count,
  // sum(amount), sum(rev)) once files 0 until p are applied
  private val history = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Int, Int)]]
  private val aggs = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private var planned: IndexedSeq[Planned] = IndexedSeq.empty

  private var dir, db, feed, stage = ""
  private var silver: TracedTable = _
  private var silverQ, goldQ: StreamingQuery = _
  private var silverCkpt = ""
  private var written = 0 // files renamed into the feed so far

  def describe: Map[String, Any] = Map(
    "loop" -> "open", "period_ms" -> PeriodMs, "rows" -> Rows, "file_rows" -> FileRows,
    "file_updates" -> Updates, "file_inserts" -> Inserts, "file_deletes" -> Deletes,
    "warm_up_files" -> WarmUpFiles, "lookups" -> Lookups, "scans" -> Scans)

  override def streams: Map[String, String] =
    Map("silver" -> silverQ.id.toString, "gold" -> goldQ.id.toString)

  private def rows(p: Int): Map[Long, Int] = {
    val live = mutable.HashMap.empty[Long, Int]
    history.foreach { case (id, h) =>
      h.filter(_._1 < p).lastOption.filter(_._2 > 0).foreach(x => live(id) = x._2)
    }
    live.toMap
  }

  /** Plan every feed file the run can use, and the ground truth after
    * each.
    */
  private def plan(files: Int): Unit = {
    history.clear(); aggs.clear()
    val live = mutable.LinkedHashMap.empty[Long, Int]
    (1L to Rows).foreach { id => live(id) = 1; history(id) = mutable.ArrayBuffer((-1, 1)) }
    var maxId = Rows.toLong
    def agg() = (live.size.toLong, live.map { case (id, r) => shape.amount(id, r) }.sum,
      live.values.map(_.toLong).sum)
    aggs += agg()
    planned = (0 until files).map { f =>
      val keys = live.keys.toIndexedSeq
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < Updates + Deletes) picked += keys(rng.nextInt(keys.size))
      val (dels, ups) = picked.toSeq.splitAt(Deletes)
      val ins = (maxId + 1 to maxId + Inserts)
      maxId += Inserts
      val out = ups.map { id => live(id) += 1; (id, live(id), "U") } ++
        dels.map { id => val r = live.remove(id).get; (id, r, "D") } ++
        ins.map { id => live(id) = 1; (id, 1, "I") }
      out.foreach { case (id, r, op) =>
        history.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += ((f, if (op == "D") 0 else r))
      }
      aggs += agg()
      Planned(out)
    }
  }

  def setup(rep: Int, d: String): Unit = {
    dir = d
    db = s"m$rep"
    feed = s"$dir/feed"
    stage = s"$dir/stage"
    written = 0
    val files = WarmUpFiles + math.ceil(ctx.seconds * 1000 / PeriodMs).toInt
    ctx.tracer.span("gen") {
      plan(files)
      // every feed file is written now, in one job, and renamed into the
      // feed when it is due
      val all = planned.zipWithIndex.flatMap { case (p, f) =>
        p.rows.map { case (id, r, op) => Row(id, math.max(r, 1), f, f + 2L, op) } }
      val df = shape.frame(ctx.writer.local(all, StructType(Seq(
        StructField("id", LongType), StructField("rev", IntegerType),
        StructField("file", IntegerType), StructField("SYS_CHANGE_VERSION", LongType),
        StructField("SYS_CHANGE_OPERATION", StringType)))),
        keep = Seq("file", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION"))
      val out = s"$dir/stage-write"
      df.repartition(col("file")).write.partitionBy("file").parquet(out)
      (0 until files).foreach { f =>
        val parts = Files.list(Paths.get(out, s"file=$f")).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.startsWith("part-"))
        require(parts.length == 1, s"feed file $f: ${parts.length} parts")
        ctx.writer.move(parts.head, f"$stage/f-$f%06d.parquet")
      }
      Files.createDirectories(Paths.get(feed))
    }
    silver = new TracedTable(spark, s"$dir/silver", ctx.tracer)
    // bootstrap rows carry the audit columns the stream loader stamps,
    // so the first merge does not evolve silver's schema under the mirror
    silver.overwriteStats(shape.frame(spark.range(1, Rows + 1).select(col("id"), lit(1).as("rev")))
      .withColumn("SyncDateTime", current_timestamp()).withColumn("SyncOperation", lit("I")),
      Seq(shape.key))
    silver.enableRowTracking()
    GraftCatalog.register(spark, db, "silver", silver)
    val feedSchema = StructType(shape.frame(spark.range(1).select(col("id"), lit(1).as("rev")))
      .schema.fields ++ Seq(StructField("SYS_CHANGE_VERSION", LongType),
        StructField("SYS_CHANGE_OPERATION", StringType)))
    silverCkpt = s"$dir/ckpt-silver"
    val loader = new StreamingSilverLoader(spark, feed, feedSchema, silver, Seq(shape.key),
      silverCkpt, correctedDeletes = true, publishChangeFeed = true)
    silverQ = ctx.tracer.spanQuiet("stream.silver.start") {
      val q = loader.start(); q.processAllAvailable(); q
    }
    val mirror = new StreamingGoldMirror(spark, silver.root, s"$dir/gold", s"$dir/ckpt-gold")
    goldQ = ctx.tracer.spanQuiet("stream.gold.start") {
      val q = mirror.start(); q.processAllAvailable(); q
    }
  }

  def discard(): Unit = close()

  override def close(): Unit = Seq(silverQ, goldQ).filter(_ != null).foreach { q =>
    // a query that died is reported by verify; stopping must not rethrow
    try { q.stop(); q.awaitTermination(30000) }
    catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => () }
  }

  def silverTables: Seq[GraftTable] = Seq(silver)

  /** Rename feed file `f` into the feed; returns when it was written. */
  private def drop(f: Int): Long = ctx.tracer.span("gen") {
    val p = Paths.get(f"$stage/f-$f%06d.parquet")
    Files.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis()))
    ctx.writer.move(p, f"$feed/f-$f%06d.parquet")
    val at = System.currentTimeMillis()
    written = f + 1
    at
  }

  private def drain(): Unit = { silverQ.processAllAvailable(); goldQ.processAllAvailable() }

  def warmUp(rec: Recorder): Unit = {
    (0 until WarmUpFiles).foreach { f => drop(f); drain() }
    val keys = planned(0).rows.map(_._1)
    (1 to Lookups / 2).foreach(_ => lookup(keys(rng.nextInt(keys.size)), rec))
    (1 to Scans / 2).foreach(_ => scan(rec))
  }

  def measure(seconds: Double, rec: Recorder): Unit = {
    val first = WarmUpFiles
    val t0 = System.currentTimeMillis()
    val count = math.ceil(seconds * 1000 / PeriodMs).toInt
    val due = (0 until count).map(j => t0 + j * PeriodMs)
    val issued = new Array[Long](count)
    rec.measuring = true
    due.indices.foreach { j =>
      val wait = due(j) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      issued(j) = drop(first + j)
    }
    drain()
    rec.genLagS = Stats.lateness(due.map(_ * 1000000L), issued.toSeq.map(_ * 1000000L)).max / 1e9
    samples(first, due, seconds, rec)
    // reporting reads once the streams are idle: changed keys of the
    // measured files, and the aggregate
    val changed = (first until written).flatMap(planned(_).rows.map(_._1)).distinct
    (1 to Lookups).foreach(_ => lookup(changed(rng.nextInt(changed.size)), rec))
    (1 to Scans).foreach(_ => scan(rec))
    rec.measuring = false
  }

  /** Feed file name -> the file source's log batch that admitted it, from
    * the silver checkpoint's file-source log (plain and compacted entries).
    */
  private def admittedIn(): Map[Int, Long] = {
    val Entry = """"path":"[^"]*f-(\d+)\.parquet".*"batchId":(\d+)""".r.unanchored
    Option(new java.io.File(s"$silverCkpt/sources/0").listFiles()).toSeq.flatten
      .filter(f => f.getName.head.isDigit).flatMap { f =>
        scala.io.Source.fromFile(f).getLines().collect { case Entry(i, b) => i.toInt -> b.toLong }.toList
      }.toMap
  }

  /** Per-file silver and gold visibility from the two queries' progress
    * reports. A silver batch's end offset is the file-source log batch it
    * read through; gold's end offset is the silver version it caught up
    * to.
    */
  private def samples(first: Int, due: Seq[Long], seconds: Double, rec: Recorder): Unit = {
    val LogOffset = """"logOffset":(\d+)""".r.unanchored
    val OffsetV = """"v":(-?\d+)""".r.unanchored
    val admitted = admittedIn()
    val sBatches = ctx.progress.of(silverQ.id.toString).flatMap(b => b.endOffset match {
      case LogOffset(o) => Some(o.toLong -> b)
      case _ => None
    })
    def silverBatch(f: Int): Option[Progress] =
      admitted.get(f).flatMap(lb => sBatches.find(_._1 >= lb)).map(_._2)
    val gold = ctx.progress.of(goldQ.id.toString).flatMap(b => b.endOffset match {
      case OffsetV(v) => Some(v.toLong -> b.endMs)
      case _ => None
    })
    val visible = (0 until first + due.size).flatMap(f => silverBatch(f).map(f -> _.endMs)).toMap
    val measured = due.indices.map(j => silverBatch(first + j))
    val inGold = measured.map(_.flatMap(b => silver.txnVersion(silverCkpt, s"$silverCkpt:${b.batchId}"))
      .flatMap(v => gold.find(_._1 >= v)).map(_._2))
    Stats.latencyFromDue(due, measured.map(_.map(_.endMs))).zip(inGold).zipWithIndex.foreach {
      case ((silverMs, goldMs), j) =>
        rec.check(silverMs.isDefined, s"feed file ${first + j} never reached silver")
        rec.check(goldMs.isDefined, s"feed file ${first + j} never reached gold")
        silverMs.foreach(ms => rec.fresh += ms / 1e3)
        goldMs.foreach(at => rec.goldFresh += (at - due(j)) / 1e3)
    }
    val last = due.indices.flatMap(j => visible.get(first + j)).maxOption
    rec.measuredSeconds = last.map(l => (l - due.head) / 1e3).getOrElse(seconds)
    rec.rowsVisible = due.indices.count(j => visible.contains(first + j)).toLong * FileRows
  }

  private def filesInTable: Long =
    silver.latestManifest.map(m => silver.filesOf(m).size.toLong).getOrElse(0L)

  private def lookup(id: Long, rec: Recorder): Unit = {
    val (rows, s) = ctx.reads.run("lookup",
      s"SELECT ${shape.cols.mkString(", ")} FROM $db.silver WHERE ${shape.key} = $id", filesInTable)
    val want = history(id).filter(_._1 < written).last._2 match {
      case 0 => Nil
      case r => Seq(Render(shape.values(id, r)))
    }
    val got = rows.toSeq.map(Render.row)
    rec.check(got == want, s"lookup ${shape.key}=$id: got $got, want $want")
    rec.sample(rec.lookups, s)
  }

  private def scan(rec: Recorder): Unit = {
    val (rows, s) = ctx.reads.run("scan",
      s"SELECT count(*), sum(m_amount), sum(m_rev) FROM $db.silver", filesInTable)
    val want = Render(aggs(written).productIterator.toSeq)
    val got = rows.headOption.map(Render.row).getOrElse("")
    rec.check(got == want, s"scan: got $got, want $want")
    rec.sample(rec.scans, s)
  }

  def verify(rec: Recorder): Unit = {
    val live = rows(written)
    val want = shape.frame(ctx.writer.local(live.toSeq.map { case (id, r) => Row(id, r) },
      ctx.writer.idRevSchema))
    val cols = shape.cols.map(col)
    rec.check(Check.sameRows(spark.table(s"$db.silver").select(cols: _*), want),
      s"final state of $db.silver differs from the generator's")
    rec.check(Check.sameRows(GraftTable(spark, s"$dir/gold").snapshot.select(cols: _*), want),
      "final state of gold differs from the generator's")
    Seq("silver" -> silverQ, "gold" -> goldQ).foreach { case (name, q) =>
      rec.check(q.exception.isEmpty, s"$name stream failed: ${q.exception}")
    }
  }
}

object MedallionStream {
  /** A feed file's (id, rev, op) rows. */
  final case class Planned(rows: Seq[(Long, Int, String)])

  val Rows = 10000
  val FileRows = 200
  val Updates = 170
  val Inserts = 20
  val Deletes = 10
  val PeriodMs = 5000L
  val WarmUpFiles = 1
  val Lookups = 20
  val Scans = 5
}
