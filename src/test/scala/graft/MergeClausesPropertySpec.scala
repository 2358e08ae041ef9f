package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MergeBuilder
import graft.sources.GraftTable

/** Property: for ANY batch sequence and any of several ordered clause
  * sets, the clause-level merge equals a driver-side reference
  * interpreter of standard SQL MERGE semantics (first applying clause
  * per row class, all classes evaluated against the PRE-state). The
  * clause atoms pair a Spark SQL string with the equivalent Scala
  * function, so the engine and the model can only agree by computing
  * the same thing.
  */
class MergeClausesPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private type T = (Int, String) // target (v, tag) per id
  private type Model = Map[Long, T]

  // ---- clause atoms: (builder wiring, reference semantics) ----
  private sealed trait MAtom {
    def wire(b: MergeBuilder): MergeBuilder
    /** Some(None) = delete; Some(Some(t')) = update; None = not applicable. */
    def apply(t: T, sv: Int): Option[Option[T]]
  }
  private case object MDeleteMod3 extends MAtom {
    def wire(b: MergeBuilder) = b.whenMatchedDeleteClause(Some("s.v % 3 = 0"))
    def apply(t: T, sv: Int) = if (sv % 3 == 0) Some(None) else None
  }
  private case object MUpdAddEven extends MAtom {
    def wire(b: MergeBuilder) =
      b.whenMatchedUpdate(Seq("v" -> "t.v + s.v", "tag" -> "'e'"),
        Some("s.v % 2 = 0"))
    def apply(t: T, sv: Int) =
      if (sv % 2 == 0) Some(Some((t._1 + sv, "e"))) else None
  }
  private case object MUpdAlways extends MAtom {
    def wire(b: MergeBuilder) =
      b.whenMatchedUpdate(Seq("v" -> "s.v", "tag" -> "'u'"))
    def apply(t: T, sv: Int) = Some(Some((sv, "u")))
  }

  // Flag-API atoms: the builder lowers them onto the same clause list.
  // The delete condition reads `v`, a name BOTH sides have: the flag API
  // binds it to the source row, and a NULL verdict means "keep".
  private def flagDel(sv: Int): Boolean = sv % 5 != 0 && sv % 3 == 0
  private case object MFlagDelete extends MAtom {
    def wire(b: MergeBuilder) = b.whenMatchedDelete(
      "CASE WHEN v % 5 = 0 THEN NULL ELSE v % 3 = 0 END")
    def apply(t: T, sv: Int) = if (flagDel(sv)) Some(None) else None
  }
  private case object MFlagUpdateAll extends MAtom {
    def wire(b: MergeBuilder) = b.whenMatchedUpdateAll()
    // the source has no `tag`: UPDATE SET * keeps its pre-image
    def apply(t: T, sv: Int) = Some(Some((sv, t._2)))
  }

  private sealed trait IAtom {
    def wire(b: MergeBuilder): MergeBuilder
    def apply(id: Long, sv: Int): Option[T]
  }
  private case object IOdd extends IAtom {
    def wire(b: MergeBuilder) = b.whenNotMatchedInsert(
      Seq("id" -> "s.id", "v" -> "s.v", "tag" -> "'oddins'"),
      Some("s.v % 2 = 1"))
    def apply(id: Long, sv: Int) =
      if (sv % 2 == 1) Some((sv, "oddins")) else None
  }
  private case object IAll extends IAtom {
    def wire(b: MergeBuilder) = b.whenNotMatchedInsert(
      Seq("id" -> "s.id", "v" -> "s.v * 2", "tag" -> "'ins'"))
    def apply(id: Long, sv: Int) = Some((sv * 2, "ins"))
  }

  /** whenNotMatchedInsertAll next to whenMatchedDelete: delete-marked
    * source rows never insert; `tag` (target-only) lands NULL.
    */
  private case object IFlagInsertAllCdc extends IAtom {
    def wire(b: MergeBuilder) = b.whenNotMatchedInsertAll()
    def apply(id: Long, sv: Int) = if (flagDel(sv)) None else Some((sv, null))
  }

  private sealed trait NAtom {
    def wire(b: MergeBuilder): MergeBuilder
    def apply(t: T): Option[Option[T]]
  }
  private case object NDelSmall extends NAtom {
    def wire(b: MergeBuilder) = b.whenNotMatchedBySourceDelete(Some("t.v < 300"))
    def apply(t: T) = if (t._1 < 300) Some(None) else None
  }
  private case object NStale extends NAtom {
    def wire(b: MergeBuilder) =
      b.whenNotMatchedBySourceUpdate(Seq("tag" -> "'stale'"))
    def apply(t: T) = Some(Some((t._1, "stale")))
  }

  private case class Combo(name: String,
      m: Seq[MAtom], i: Seq[IAtom], n: Seq[NAtom])
  private val combos = Seq(
    Combo("full", Seq(MDeleteMod3, MUpdAddEven, MUpdAlways), Seq(IOdd, IAll),
      Seq(NDelSmall, NStale)),
    Combo("cond-only", Seq(MUpdAddEven), Seq(IOdd), Seq.empty),
    Combo("bysource", Seq(MUpdAlways), Seq.empty, Seq(NDelSmall, NStale)),
    Combo("insert-only", Seq.empty, Seq(IOdd, IAll), Seq.empty),
    Combo("delete-first", Seq(MDeleteMod3, MUpdAlways), Seq(IAll),
      Seq(NStale)),
    Combo("flag-cdc", Seq(MFlagDelete, MFlagUpdateAll), Seq(IFlagInsertAllCdc),
      Seq.empty),
    Combo("flag-update-delete", Seq(MFlagDelete, MFlagUpdateAll), Seq.empty,
      Seq.empty))

  private def applyModel(model: Model, batch: Seq[(Long, Int)], c: Combo): Model = {
    val src = batch.toMap
    val out = scala.collection.mutable.Map.empty[Long, T]
    for ((id, t) <- model) src.get(id) match {
      case Some(sv) => // matched: first applying clause wins
        c.m.iterator.map(_.apply(t, sv)).collectFirst { case Some(r) => r } match {
          case Some(None) => () // delete
          case Some(Some(t2)) => out(id) = t2
          case None => out(id) = t
        }
      case None => // not matched by source
        c.n.iterator.map(_.apply(t)).collectFirst { case Some(r) => r } match {
          case Some(None) => ()
          case Some(Some(t2)) => out(id) = t2
          case None => out(id) = t
        }
    }
    for ((id, sv) <- batch if !model.contains(id))
      c.i.iterator.map(_.apply(id, sv)).collectFirst { case Some(r) => r }
        .foreach(t2 => out(id) = t2)
    out.toMap
  }

  private val rowGen = for {
    id <- Gen.choose(0L, 25L) // small key space → all row classes hit
    v <- Gen.choose(0, 1000)
  } yield (id, v)
  private val batchGen: Gen[List[(Long, Int)]] =
    Gen.listOfN(10, rowGen).map(_.groupBy(_._1).map(_._2.head).toList)
  private val scenarioGen: Gen[List[List[(Long, Int)]]] =
    Gen.listOfN(3, batchGen)

  for (c <- combos; seed <- 1 to 2)
    test(s"clause merge == reference interpreter (${c.name}, seed $seed)") {
      val scenario = scenarioGen(Gen.Parameters.default, Seed(seed * 31L))
        .getOrElse(fail("generator produced no value"))
      val t = GraftTable(spark,
        Files.createTempDirectory(s"graft-mcp-${c.name}").toString)
      // fixture: a deterministic base independent of the batches
      val base = (0L to 25L by 2L).map(i => (i, (i * 37 % 1000).toInt, "base"))
      t.overwrite(base.toDF("id", "v", "tag"), Some("id"))
      var model: Model = base.map(r => r._1 -> (r._2, r._3)).toMap
      for (batch <- scenario if batch.nonEmpty) {
        var b = t.merge(batch.toDF("id", "v"), Seq("id"))
        (c.m.map(a => a.wire _) ++ c.i.map(a => a.wire _) ++
          c.n.map(a => a.wire _)).foreach(w => b = w(b))
        b.execute()
        model = applyModel(model, batch, c)
      }
      val got = t.scan.select("id", "v", "tag").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
      assert(got == model,
        s"diverged: missing=${(model.toSet -- got.toSet).take(3)} " +
          s"extra=${(got.toSet -- model.toSet).take(3)} scenario=$scenario")
    }
}
