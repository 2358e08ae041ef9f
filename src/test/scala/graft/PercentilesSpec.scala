package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Percentiles

/** [[Percentiles.exact]] — selection-by-sketch exact percentiles: must
  * equal the order-statistics sort path bit-for-bit on every input
  * shape (uniform, heavy ties, tiny groups, n=1), since both claim
  * quantile_cont semantics.
  */
class PercentilesSpec extends AnyFunSuite {
  // a session of its own: the probe-plan listener below then sees only
  // this suite's queries
  private lazy val spark = TestSpark.spark.newSession()
  import spark.implicits._

  private val qs = Seq(0.5 -> "p50", 0.95 -> "p95", 0.99 -> "p99")

  private def canon(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Double]] =
    df.collect().map(r => r.getString(0) ->
      (1 to 3).map(i => r.getDouble(i)).toSeq).toMap

  private def check(df: org.apache.spark.sql.DataFrame): Unit = {
    // zeroed thresholds force the sketch plan; the default path
    // dispatches to the single-pass aggregate at these sizes — all
    // three must agree
    val sketch = canon(Percentiles.exact(df, "g", "v", qs,
      smallBytes = 0L, sortBytes = 0L))
    val small = canon(Percentiles.exact(df, "g", "v", qs))
    val slow = canon(Percentiles.exactBySort(df, "g", "v", qs))
    assert(sketch.keySet == slow.keySet && small.keySet == slow.keySet)
    sketch.foreach { case (g, vals) =>
      vals.zip(slow(g)).zip(small(g)).zipWithIndex.foreach {
        case (((a, b), c), i) =>
          assert(a == b && c == b,
            s"group $g quantile ${qs(i)._2}: sketch=$a sort=$b small=$c") }
    }
  }

  test("uniform values: sketch plan equals sort plan") {
    val rnd = new scala.util.Random(42)
    val df = (1 to 20000).map(i =>
      (Seq("A", "N", "R")(i % 3), rnd.nextDouble() * 1000)).toDF("g", "v")
    check(df)
  }

  test("heavy ties: a duplicate mass straddling the quantile stays exact") {
    // 80% of one group is the same value — brackets collapse onto the
    // tie; exact base ranks must still place the order statistics
    val rnd = new scala.util.Random(7)
    val rows =
      (1 to 8000).map(_ => ("A", 500.0)) ++
        (1 to 2000).map(_ => ("A", rnd.nextDouble() * 1000)) ++
        (1 to 999).map(_ => ("N", 1.0)) :+ (("N", 2.0))
    check(rows.toDF("g", "v"))
  }

  test("tiny groups: n=1 and n=2 interpolate like quantile_cont") {
    check(Seq(("A", 10.0), ("N", 1.0), ("N", 3.0)).toDF("g", "v"))
  }

  test("skewed long tail: p99 sits in the sparse tail") {
    val rnd = new scala.util.Random(3)
    val df = (1 to 30000).map { i =>
      val v = if (i % 100 == 0) rnd.nextDouble() * 1e6 else rnd.nextDouble()
      ("A", v)
    }.toDF("g", "v")
    check(df)
  }

  test("null values are excluded on every path (quantile_cont semantics)") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 5000).map { i =>
      ("A", if (i % 4 == 0) null.asInstanceOf[java.lang.Double]
            else java.lang.Double.valueOf(rnd.nextDouble() * 100))
    }
    check(rows.toDF("g", "v"))
  }

  test("many groups fall back to the sort path and stay exact") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 10000).map(i => (s"g${i % 100}", rnd.nextDouble())).toDF("g", "v")
    check(df) // 100 groups > maxGroups=64 → exact() delegates to sort
  }

  test("sketch-tier fallback bounds the driver collect at maxGroups+1") {
    // force the sketch tier (zeroed small/sort thresholds) with a group
    // cardinality far above maxGroups: the cardinality probe must
    // collect at most maxGroups+1 rows (the LIMIT in the plan — not one
    // row per group) and the fallback answer must stay exact
    val rnd = new scala.util.Random(7)
    val df = (1 to 20000).map(i => (s"g${i % 1000}", rnd.nextDouble())).toDF("g", "v")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    val got = try {
      val g = canon(Percentiles.exact(df, "g", "v", qs,
        maxGroups = 8, smallBytes = 0L, sortBytes = 0L))
      // listener events arrive in order on one bus: once this marker
      // query is seen, every query exact() ran has been seen too
      val marker = spark.range(1).toDF("percentiles_marker")
      marker.collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(marker.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(marker.queryExecution), "listener never saw the marker")
      g
    } finally spark.listenerManager.unregister(listener)
    val want = canon(Percentiles.exactBySort(df, "g", "v", qs))
    assert(got.keySet == want.keySet)
    got.foreach { case (g, vals) =>
      vals.zip(want(g)).foreach { case (a, b) => assert(a == b, s"group $g") } }
    // and the production probe's own plan carries the limit — the
    // collect can never materialize the full group cardinality on the
    // driver
    import scala.jdk.CollectionConverters._
    val probes = seen.asScala.toSeq.map(_.optimizedPlan.toString)
      .filter(_.contains("percentile_approx"))
    assert(probes.nonEmpty, "the sketch-tier probe never ran")
    assert(probes.forall(_.contains("GlobalLimit 9")), probes.mkString("\n"))
  }

  test("the sort plan refuses an input column named like its helper column") {
    val df = Seq(("g", 1.0, 3L), ("g", 2.0, 4L)).toDF("grp", "v", "__rn")
    val e = intercept[IllegalArgumentException](
      Percentiles.exactBySort(df, "grp", "v", Seq(0.5 -> "p50")))
    assert(e.getMessage.contains("__rn"), e.getMessage)
  }
}
