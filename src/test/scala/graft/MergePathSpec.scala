package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, GraftTable}

/** Which physical shape a MERGE runs: the flag API and SQL lower onto one
  * clause list, and the clause SHAPE alone picks the broadcast-anti
  * upsert (no full-outer join) or the full-outer executor. The plans are
  * captured from every query the merge executes, on a session of its own
  * so no other suite's queries are counted.
  */
class MergePathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark.newSession()
  import spark.implicits._

  /** Executed-plan strings of every query `body` runs. */
  private def plansOf(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order on one bus: once this marker
      // query is seen, every query the body ran has been seen too
      val marker = spark.range(1).toDF("merge_path_marker")
      marker.collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(marker.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(marker.queryExecution), "listener never saw the marker")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.map(_.executedPlan.toString)
  }

  private def fullOuter(plans: Seq[String]): Boolean =
    plans.exists(_.contains("FullOuter"))

  private def fresh(): GraftTable = {
    val t = GraftTable(spark, Files.createTempDirectory("graft-mpath").toString)
    t.overwrite(Seq((1L, "a", "I"), (2L, "b", "I"), (3L, "c", "I"))
      .toDF("id", "v", "op"), Some("id"))
    t
  }
  private def batch =
    Seq((2L, "b2", "U"), (3L, "c", "D"), (4L, "d", "I")).toDF("id", "v", "op")
  private def rows(t: GraftTable): Set[(Long, String)] =
    t.scan.select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("flag CDC upsert takes the broadcast-anti path") {
    val t = fresh()
    val plans = plansOf(t.merge(batch, Seq("id"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .whenMatchedDelete("op = 'D'").execute())
    assert(plans.nonEmpty)
    assert(!fullOuter(plans), plans.mkString("\n"))
    assert(rows(t) == Set((1L, "a"), (2L, "b2"), (4L, "d")))
  }

  test("SQL UPDATE SET * / INSERT * takes the broadcast-anti path") {
    val t = fresh()
    GraftCatalog.register(spark, "mpath", "star_t", t)
    batch.createOrReplaceTempView("mpath_src")
    val plans = plansOf(spark.sql(
      """MERGE INTO mpath.star_t t USING mpath_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(plans.nonEmpty)
    assert(!fullOuter(plans), plans.mkString("\n"))
    assert(rows(t) == Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
  }

  test("update-only SET * runs the full-outer executor") {
    val t = fresh()
    val plans = plansOf(t.merge(batch, Seq("id")).whenMatchedUpdateAll().execute())
    assert(fullOuter(plans), plans.mkString("\n"))
    assert(rows(t) == Set((1L, "a"), (2L, "b2"), (3L, "c")))
  }
}
