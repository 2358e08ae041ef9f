package nrtbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.pipeline.{Entity, LoadResult}
import graft.sources.GraftTable

/** entity_fanout: closed loop, one client. Eight small entities, half CT
  * and half TMSTP; each cycle changes a handful of rows in six of them
  * and leaves two idle (the skip path), then runs one load. Merge does
  * almost no work, so the fixed cost of each entity load (probe,
  * extract, control-plane writes) dominates.
  */
final class EntityFanout(ctx: Ctx) extends Workload {
  import EntityFanout._
  private val spark = ctx.spark
  private val mix = new Mix(ctx.seed)
  private val rng = new SplittableRandom(ctx.seed)

  /** One entity's generator state: live rows as id -> (rev, ts seconds). */
  private final class Ent(val spec: Spec, val id: Long) {
    val shape = Shape(spec.prefix, mix, spec.tmstp)
    val rows = mutable.LinkedHashMap.empty[Long, (Int, Long)]
    var maxId = 0L
    var clock = TsBase // TMSTP: the last second any row was stamped with
    var ctVersion = 1L
    def name = spec.name
    def kind = if (spec.tmstp) "TMSTP" else "CT"
  }

  private var ents: Seq[Ent] = Nil
  private var src, db = ""
  private var loader: BenchLoader = _
  private var config: TracedConfigStore = _
  override def controlPlane: Option[graft.pipeline.ConfigStore] = Option(config)
  private val loadedAt = scala.collection.concurrent.TrieMap.empty[Long, Long]
  private var cycleNo = 0

  def describe: Map[String, Any] = Map(
    "loop" -> "closed", "clients" -> 1, "loader_parallelism" -> Parallelism,
    "entities" -> Specs.map(s => s"${s.name}:${if (s.tmstp) "TMSTP" else "CT"}:${s.rows}").mkString(","),
    "changed_per_cycle" -> (Specs.size - 2), "rows_changed_per_entity" -> ChangesPerEntity,
    "warm_up_cycles" -> WarmUp)

  private def entityOf(e: Ent): Entity =
    Entity(e.id, e.name, s"$db.${e.name}", "src", "silver", e.kind,
      if (e.spec.tmstp) Some(s"${e.spec.prefix}_ts") else None, s"${e.spec.prefix}_id")

  def setup(rep: Int, dir: String): Unit = {
    src = s"$dir/src"
    db = s"f$rep"
    cycleNo = 0
    ents = Specs.zipWithIndex.map { case (s, i) => new Ent(s, i + 1L) }
    ctx.tracer.span("gen") {
      ents.foreach { e =>
        (1L to e.spec.rows).foreach(id => e.rows(id) = (1, TsBase - e.spec.rows + id))
        e.maxId = e.spec.rows
        writeSource(e)
        if (!e.spec.tmstp)
          ctx.writer.single(ctx.writer.changes(e.shape.key,
            (1L to e.spec.rows).map(id => (id, 1L, "I"))), changePath(e, 1L))
      }
    }
    config = new TracedConfigStore(spark, s"$dir/control", ctx.tracer)
    config.registerEntities(ents.map(entityOf))
    loader = new BenchLoader(spark, config, src, s"$dir/silver", ctx.tracer,
      (e: Entity, _: LoadResult, at: Long) => loadedAt(e.entityId) = at)
    val rs = loader.run(Parallelism)
    ctx.tracer.span("setup.check")(require(
      rs.size == ents.size && rs.forall(_.action == "full"), s"bootstrap loads: $rs"))
  }

  def discard(): Unit = ()

  def silverTables: Seq[GraftTable] = ents.map(e => loader.silverTable(entityOf(e)))

  def warmUp(rec: Recorder): Unit = (1 to WarmUp).foreach(_ => cycle(rec))

  def measure(seconds: Double, rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    rec.measuring = true
    while (System.nanoTime() - t0 < seconds * 1e9) cycle(rec)
    rec.measuredSeconds = (System.nanoTime() - t0) / 1e9
    rec.measuring = false
  }

  private def writeSource(e: Ent): Unit = {
    val rows = e.rows.toSeq.map { case (id, (r, ts)) => Row(id, r, ts) }
    ctx.writer.single(e.shape.frame(ctx.writer.local(rows, ctx.writer.idRevTsSchema)),
      s"$src/${e.name}.parquet/data.parquet")
  }

  private def changePath(e: Ent, v: Long) = f"$src/${e.name}_changes.parquet/chg-$v%06d.parquet"

  /** One cycle: change six entities (two stay idle, rotating), commit
    * each, load, read one changed key per entity and scan the first.
    */
  private def cycle(rec: Recorder): Unit = {
    cycleNo += 1
    val idle = Set(cycleNo % ents.size, (cycleNo + ents.size / 2 - 1) % ents.size)
    val active = ents.zipWithIndex.filterNot(x => idle(x._2)).map(_._1)
    val committed = mutable.LinkedHashMap.empty[Ent, (Long, Seq[Long])]
    active.foreach { e =>
      val keys = ctx.tracer.span("gen")(change(e))
      committed(e) = (System.nanoTime(), keys)
    }
    loadedAt.clear()
    val rs = loader.run(Parallelism).map(r => r.entity.entityId -> r).toMap
    ents.foreach { e =>
      val r = rs(e.id)
      committed.get(e) match {
        case Some((at, keys)) =>
          rec.check(r.action == "incremental" && r.rowsExtracted == keys.size,
            s"${e.name} cycle $cycleNo: $r (expected ${keys.size} rows)")
          rec.sample(rec.fresh, (loadedAt(e.id) - at) / 1e9)
          if (rec.measuring) rec.rowsVisible += r.rowsExtracted
        case None =>
          rec.check(r.action == "skip", s"${e.name} idle in cycle $cycleNo but loaded: $r")
      }
    }
    committed.foreach { case (e, (_, keys)) => lookup(e, keys(rng.nextInt(keys.size)), rec) }
    scan(ents.head, rec)
  }

  /** Change a handful of rows of `e` and commit the change; returns the
    * changed keys. CT: updates, an insert and a delete, committed by the
    * change-log file. TMSTP: updates and an insert stamped one second
    * past the entity's latest stamp (the reference's second-truncated
    * watermark skips rows inside the watermark's own second), committed
    * by the snapshot file.
    */
  private def change(e: Ent): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    val live = e.rows.keys.toIndexedSeq
    val want = ChangesPerEntity - 1 - (if (e.spec.tmstp) 0 else 1)
    while (picked.size < want) picked += live(rng.nextInt(live.size))
    e.maxId += 1
    val ins = e.maxId
    e.clock += 1
    picked.foreach(id => e.rows(id) = (e.rows(id)._1 + 1, e.clock))
    e.rows(ins) = (1, e.clock)
    val del =
      if (e.spec.tmstp) Nil
      else {
        var d = live(rng.nextInt(live.size))
        while (picked(d)) d = live(rng.nextInt(live.size))
        e.rows.remove(d)
        Seq(d)
      }
    writeSource(e)
    if (!e.spec.tmstp) {
      e.ctVersion += 1
      ctx.writer.single(ctx.writer.changes(e.shape.key,
        picked.toSeq.map(id => (id, e.ctVersion, "U")) ++ Seq((ins, e.ctVersion, "I")) ++
          del.map(id => (id, e.ctVersion, "D"))), changePath(e, e.ctVersion))
    }
    picked.toSeq ++ Seq(ins) ++ del
  }

  private def filesOf(e: Ent): Long = {
    val t = loader.silverTable(entityOf(e))
    t.latestManifest.map(m => t.filesOf(m).size.toLong).getOrElse(0L)
  }

  private def expected(e: Ent, id: Long): Seq[String] =
    e.rows.get(id).map { case (r, ts) => Render(e.shape.values(id, r, ts)) }.toSeq

  private def lookup(e: Ent, id: Long, rec: Recorder): Unit = {
    val (rows, s) = ctx.reads.run("lookup",
      s"SELECT ${e.shape.cols.mkString(", ")} FROM $db.${e.name} WHERE ${e.shape.key} = $id",
      filesOf(e))
    val got = rows.toSeq.map(Render.row)
    rec.check(got == expected(e, id), s"lookup ${e.name} $id: got $got, want ${expected(e, id)}")
    rec.sample(rec.lookups, s)
  }

  private def scan(e: Ent, rec: Recorder): Unit = {
    val p = e.spec.prefix
    val (rows, s) = ctx.reads.run("scan",
      s"SELECT count(*), sum(${p}_amount), sum(${p}_rev) FROM $db.${e.name}", filesOf(e))
    val want = Render(Seq(e.rows.size.toLong,
      e.rows.map { case (id, (r, _)) => e.shape.amount(id, r) }.sum,
      e.rows.values.map(_._1.toLong).sum))
    val got = rows.headOption.map(Render.row).getOrElse("")
    rec.check(got == want, s"scan ${e.name}: got $got, want $want")
    rec.sample(rec.scans, s)
  }

  def verify(rec: Recorder): Unit = ents.foreach { e =>
    val want = e.shape.frame(ctx.writer.local(
      e.rows.toSeq.map { case (id, (r, ts)) => Row(id, r, ts) }, ctx.writer.idRevTsSchema))
    val got = spark.table(s"$db.${e.name}").select(e.shape.cols.map(org.apache.spark.sql.functions.col): _*)
    rec.check(Check.sameRows(got, want), s"final state of $db.${e.name} differs from the generator's")
  }
}

object EntityFanout {
  final case class Spec(name: String, prefix: String, rows: Int, tmstp: Boolean)

  // orders-, customer- and events-shaped entities, 2-5k rows each
  val Specs = Seq(
    Spec("orders", "o", 5000, tmstp = false),
    Spec("orders_t", "ot", 5000, tmstp = true),
    Spec("customer", "c", 3000, tmstp = false),
    Spec("customer_t", "ct", 3000, tmstp = true),
    Spec("events", "e", 4000, tmstp = false),
    Spec("events_t", "et", 4000, tmstp = true),
    Spec("orders_s", "os", 2000, tmstp = false),
    Spec("events_s", "es", 2000, tmstp = true))

  val ChangesPerEntity = 5
  /** Entities load concurrently, one per core. */
  val Parallelism = 4
  /** 2024-01-01T00:00:00Z: TMSTP rows are stamped at or before it, and
    * each change one second past the entity's previous stamp.
    */
  val TsBase = 1704067200L
  val WarmUp = 2
}
