package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** EXACT grouped percentiles (quantile_cont linear interpolation)
  * computed WITHOUT a global sort.
  *
  * The naive exact plan shuffles every row into its group's partition
  * and sorts — at 3 groups that is a 3-way-parallel sort of the whole
  * table, and at 100 TB the shuffle alone is the job. This operator
  * replaces it with the selection-by-sketch plan:
  *
  *  1. ONE map-combined aggregate: per-group count + a GK sketch
  *     (`percentile_approx`) bracketing each target quantile at
  *     ±margin — rank error is DETERMINISTIC (≤ n/accuracy), so the
  *     bracket [vm, vp] provably contains the target order statistics;
  *  2. ONE map-combined aggregate of conditional counts: the EXACT rank
  *     of each bracket's lower bound (`count(value < vm)`);
  *  3. rank only the bracket rows (≈ 2·margin of the data, 0.1% at the
  *     default accuracy) and pick the two bracketing order statistics
  *     per quantile by offset from the exact base rank.
  *
  * No stage shuffles data rows except step 3's sliver. Every pass is a
  * codegen'd scan + partial agg; driver state is O(groups × quantiles).
  * If the sketch bracket ever fails to cover (it cannot, by the GK
  * guarantee, but the net is cheap), [[exactBySort]] recomputes the
  * answer by per-group sort — correctness never rests on the sketch.
  *
  * Groups must be LOW-CARDINALITY (≤ `maxGroups`, default 64): the
  * conditional-count pass builds groups×quantiles expressions. High-
  * cardinality grouped percentiles want the sort path (each group is
  * small) — that is [[exactBySort]]'s sweet spot, not this one's.
  */
object Percentiles {

  /** quantile_cont position: pos = q·(n−1)+1, 1-based over the sorted
    * group; the answer interpolates the floor/ceil order statistics.
    */
  private case class Pick(
      group: Any, name: String, q: Double, n: Long,
      lo: Long, hi: Long, f: Double,
      vm: Double, vp: Double, var cntLt: Long = 0L)

  def exact(
      dfRaw: DataFrame, groupCol: String, valueCol: String,
      quantiles: Seq[(Double, String)], accuracy: Int = 10000,
      maxGroups: Int = 64, smallBytes: Long = 256L << 20,
      sortBytes: Long = 16L << 30): DataFrame = {
    HelperCols.requireAbsent("exact", Seq("__t", "__pick", "__r"), dfRaw)
    // NULL values are excluded up front (quantile_cont semantics; the
    // aggregate paths ignore them implicitly, but the sort path would
    // rank them FIRST and silently shift every order statistic)
    val df = dfRaw.filter(col(valueCol).isNotNull)
    val spark = df.sparkSession
    // Three-tier size dispatch from CATALYST PLAN STATS — zero jobs
    // (file sizes come from the scan relation, driver-side):
    //  - ≤ smallBytes: ONE collect_list pass. The plan that OOMs at
    //    60M rows/group is FASTEST at 600k rows, where any multi-pass
    //    plan is pure fixed overhead.
    //  - ≤ sortBytes: the per-group order-statistics SORT. Parallelism
    //    is bounded by the group count, but up to tens of GB a 3-way
    //    sort on one box beats the sketch plan's GK build (measured:
    //    7s sort vs 21s sketch on 60M rows, local[32]) and its memory
    //    is streaming (row_number, nothing buffered).
    //  - else: the selection-by-sketch plan — the only one whose
    //    parallelism is unbounded by group count. At 100 TB a 3-task
    //    sort of 33 TB each is not a plan; three map-combined passes +
    //    a sliver rank are.
    // Stats overestimate filtered inputs — which errs toward the
    // bigger-data plan, the safe direction.
    val planBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (smallBytes > 0 && planBytes <= smallBytes)
      return exactSmall(df, groupCol, valueCol, quantiles)
    if (sortBytes > 0 && planBytes <= sortBytes)
      return exactBySort(df, groupCol, valueCol, quantiles)
    val margin = 5.0 / accuracy
    val bandQs = quantiles.flatMap { case (q, _) =>
      Seq(math.max(0.0, q - margin), math.min(1.0, q + margin)) }

    // pass 1: per-group n + sketch brackets (one scan, map-combined).
    // LIMIT maxGroups+1 bounds the DRIVER collect: on this (>16 GB)
    // tier a high-cardinality group column would otherwise pull one row
    // per group to the driver before the cardinality check could fire —
    // millions of groups = driver OOM. With the limit, ≤maxGroups
    // groups collect whole (limit is a no-op) and anything larger
    // collects exactly maxGroups+1 rows and falls back to the sort
    // plan, whose parallelism suits high cardinality anyway.
    val sketch = df.groupBy(groupCol).agg(
      count(lit(1)).as("__n"),
      percentile_approx(col(valueCol),
        array(bandQs.map(lit): _*), lit(accuracy)).as("__pa"))
      .limit(maxGroups + 1)
      .collect()
    if (sketch.length > maxGroups)
      return exactBySort(df, groupCol, valueCol, quantiles)

    val picks: Seq[Pick] = sketch.toSeq.flatMap { r =>
      val g = r.get(0)
      val n = r.getLong(1)
      val pa = r.getSeq[Double](2)
      quantiles.zipWithIndex.map { case ((q, name), i) =>
        val pos = q * (n - 1) + 1
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        Pick(g, name, q, n, lo, hi, pos - lo, pa(2 * i), pa(2 * i + 1))
      }
    }
    if (picks.isEmpty)
      return emptyResult(spark, df, groupCol, quantiles)

    // pass 2: EXACT base rank of each bracket (one scan, 9 conditional
    // sums for 3 groups × 3 quantiles — partial-aggregated, no shuffle
    // of data rows)
    val cntExprs = picks.zipWithIndex.map { case (p, i) =>
      sum(when(col(groupCol) <=> lit(p.group) &&
        col(valueCol) < lit(p.vm), 1L).otherwise(0L)).as(s"__c$i") }
    val cnts = df.agg(cntExprs.head, cntExprs.tail: _*).collect()(0)
    picks.zipWithIndex.foreach { case (p, i) =>
      p.cntLt = if (cnts.isNullAt(i)) 0L else cnts.getLong(i) }

    // pass 3: rank ONLY the bracket sliver; a row may sit in several
    // (overlapping) brackets — explode its membership tags
    val tags = picks.zipWithIndex.map { case (p, i) =>
      when(col(groupCol) <=> lit(p.group) &&
        col(valueCol) >= lit(p.vm) && col(valueCol) <= lit(p.vp),
        lit(i)).otherwise(lit(null))
    }
    val band = df
      .withColumn("__t", array_compact(array(tags: _*)))
      .filter(size(col("__t")) > 0)
      .select(col(groupCol), col(valueCol), explode(col("__t")).as("__pick"))
    val w = Window.partitionBy("__pick").orderBy(valueCol)
    val neededCond = picks.zipWithIndex.map { case (p, i) =>
      col("__pick") === i &&
        col("__r").isInCollection(Seq(p.lo - p.cntLt, p.hi - p.cntLt))
    }.reduce(_ || _)
    val found = band.withColumn("__r", row_number().over(w))
      .filter(neededCond)
      .select(col("__pick"), col("__r"), col(valueCol).cast("double"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1).toLong) -> r.getDouble(2)).toMap

    // cover check (GK's deterministic rank bound makes a miss
    // impossible; the net costs nothing and correctness never debates)
    val covered = picks.zipWithIndex.forall { case (p, i) =>
      p.lo - p.cntLt >= 1 &&
        found.contains((i, p.lo - p.cntLt)) &&
        found.contains((i, p.hi - p.cntLt))
    }
    if (!covered) return exactBySort(df, groupCol, valueCol, quantiles)

    val out = picks.zipWithIndex
      .map { case (p, i) =>
        val vLo = found((i, p.lo - p.cntLt))
        val vHi = found((i, p.hi - p.cntLt))
        (p.group, p.name, vLo + p.f * (vHi - vLo))
      }
      .groupBy(_._1).toSeq
      .map { case (g, vs) =>
        val byName = vs.map(v => v._2 -> v._3).toMap
        Row.fromSeq(g +: quantiles.map { case (_, name) => byName(name) })
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      resultSchema(df, groupCol, quantiles))
  }

  /** Single-pass exact percentiles: one `sort_array(collect_list())`
    * aggregate, order statistics picked by `element_at`. The FAST plan
    * for inputs whose groups fit an ObjectAggregation buffer — never
    * call at big-data scale ([[exact]]'s size dispatch guards this).
    * Spark's own `percentile()` is NOT used: its fraction arithmetic
    * (`q·(n−1)` 0-based) ULP-drifts from this library's proven
    * `q·(n−1)+1` expression shape, and the oracle gate hashes bits —
    * all three paths here interpolate with IDENTICAL column expressions.
    */
  def exactSmall(
      df: DataFrame, groupCol: String, valueCol: String,
      quantiles: Seq[(Double, String)]): DataFrame =
    df.groupBy(groupCol)
      .agg(sort_array(collect_list(col(valueCol))).as("__vs"))
      .select(
        col(groupCol) +: quantiles.map { case (q, name) =>
          val pos = lit(q) * (size(col("__vs")) - 1) + 1
          val lo = floor(pos).cast("int")
          val hi = ceil(pos).cast("int")
          val vLo = element_at(col("__vs"), lo)
          val vHi = element_at(col("__vs"), hi)
          (vLo + (pos - lo.cast("double")) * (vHi - vLo))
            .cast("double").as(name)
        }: _*)

  /** The order-statistics fallback: per-group shuffle + streaming sort
    * + row_number, two bracketing ranks per quantile recovered by a
    * codegen'd max() aggregate. Exact for ANY group cardinality;
    * parallelism is bounded by the group count, which is why [[exact]]
    * prefers the sketch plan for few big groups.
    */
  def exactBySort(
      dfRaw: DataFrame, groupCol: String, valueCol: String,
      quantiles: Seq[(Double, String)]): DataFrame = {
    HelperCols.requireAbsent("exactBySort", Seq("__n", "__rn"), dfRaw)
    val df = dfRaw.filter(col(valueCol).isNotNull) // quantile_cont semantics
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(groupCol).orderBy(valueCol)
    val ranked = df.withColumn("__rn", row_number().over(w))
      .join(broadcast(counts), Seq(groupCol))
    val picked = ranked.select(
      col(groupCol) +: quantiles.flatMap { case (q, name) =>
        val pos = lit(q) * (col("__n") - 1) + 1
        val lo = floor(pos).cast("long")
        val hi = ceil(pos).cast("long")
        Seq(
          when(col("__rn") === lo, col(valueCol)).as(s"${name}_lo"),
          when(col("__rn") === hi, col(valueCol)).as(s"${name}_hi"),
          when(col("__rn") === lo, pos - lo.cast("double")).as(s"${name}_f"))
      }: _*)
    val aggs = quantiles.flatMap { case (_, name) =>
      Seq(max(col(s"${name}_lo")).as(s"${name}_lo"),
        max(col(s"${name}_hi")).as(s"${name}_hi"),
        max(col(s"${name}_f")).as(s"${name}_f")) }
    picked.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
      .select(
        col(groupCol) +: quantiles.map { case (_, name) =>
          (col(s"${name}_lo") +
            col(s"${name}_f") * (col(s"${name}_hi") - col(s"${name}_lo")))
            .cast("double").as(name)
        }: _*)
  }

  private def resultSchema(
      df: DataFrame, groupCol: String,
      quantiles: Seq[(Double, String)]): StructType =
    StructType(df.schema(groupCol) +:
      quantiles.map { case (_, name) => StructField(name, DoubleType) })

  private def emptyResult(
      spark: org.apache.spark.sql.SparkSession, df: DataFrame,
      groupCol: String, quantiles: Seq[(Double, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      resultSchema(df, groupCol, quantiles))
}
