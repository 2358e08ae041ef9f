package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftTable

/** The one net-change rule ([[GraftTable.netChanges]]): one row per key
  * out of a window of change rows, newest commit first, and inside one
  * commit insert/update_postimage > delete > update_preimage, with a
  * winning pre-image coming out as a delete.
  */
class NetChangesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Net `rows` of (id, v, _change_type, _commit_version) for id 1. */
  private def net(rows: (Long, String, String, Long)*): (String, String) = {
    val out = GraftTable.netChanges(
      rows.toDF("id", "v", "_change_type", "_commit_version"), "id").collect()
    assert(out.length == 1, out.mkString(", "))
    (out.head.getAs[String]("v"), out.head.getAs[String]("_change_type"))
  }

  test("the newest commit wins across commits") {
    assert(net((1L, "a", "insert", 1L), (1L, "b", "update_postimage", 3L),
      (1L, "a", "update_preimage", 3L), (1L, "c", "update_postimage", 2L)) ==
      ("b", "update_postimage"))
  }

  test("a delete and an insert of one id in one commit give the insert") {
    assert(net((1L, "old", "delete", 2L), (1L, "new", "insert", 2L)) ==
      ("new", "insert"))
  }

  test("a pre-image and post-image pair in one commit gives the post-image") {
    assert(net((1L, "after", "update_postimage", 2L),
      (1L, "before", "update_preimage", 2L)) == ("after", "update_postimage"))
  }

  test("a key that has only a pre-image gives a delete") {
    assert(net((1L, "a", "insert", 1L), (1L, "before", "update_preimage", 2L)) ==
      ("before", "delete"))
  }

  test("a delete in the newest commit gives a delete") {
    assert(net((1L, "a", "insert", 1L), (1L, "b", "update_postimage", 2L),
      (1L, "b", "delete", 3L)) == ("b", "delete"))
  }

  test("one row per key across keys") {
    val out = GraftTable.netChanges(Seq(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L), (2L, "b", "delete", 2L))
      .toDF("id", "v", "_change_type", "_commit_version"), "id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(1L -> "insert", 2L -> "delete"))
  }
}
