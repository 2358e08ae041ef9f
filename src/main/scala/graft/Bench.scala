package graft

/** Benchmark entry point: runs every registered query N times (default 3,
  * interleaved full passes so a background-load spike hits one pass, not
  * every sample of one query), reports the per-query MEDIAN plus all raw
  * runs, and — unlike a bare timing loop — records a per-query status and
  * exits nonzero if anything failed, so a query that starts throwing can
  * never masquerade as a speedup.
  *
  * Output contract (the driver captures only the LAST ~2000 chars of
  * stdout and parses the JSON line found there; round 5 went red when the
  * per-query summary grew past that window at 75 queries):
  *   - an early `{"bench_detail":1,...}` line with full-precision raw runs;
  *   - `BENCH_DETAIL.json` on disk with the same detail plus 3-decimal
  *     medians (survives any stdout truncation);
  *   - a FINAL line that is CONSTANT-BOUNDED regardless of battery size —
  *     total + the top-[[SummaryTopK]] slowest queries only — so it can
  *     never outgrow the capture window again no matter how many queries
  *     later rounds add ([[summaryLine]] is pure and regression-tested in
  *     BenchSummarySpec at 200 synthetic names).
  */
object Bench {
  /** Slowest-query entries carried on the final contract line. */
  val SummaryTopK = 5
  /** Hard budget for the final line; the driver captures ~2000 chars and
    * must see the whole line plus margin for sbt's trailing log lines.
    */
  val SummaryMaxChars = 900

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  // Locale.ROOT: a comma-decimal default locale would render 51,012
  // and break the driver's JSON parse.
  private[graft] def fmt(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** The final contract line. Pure so BenchSummarySpec can assert the
    * length bound holds for arbitrarily large batteries: only the
    * [[SummaryTopK]] slowest queries ride along (full per-query data lives
    * on the detail line and in BENCH_DETAIL.json), so the length is
    * O(topK × max-name-length), independent of query count.
    */
  private[graft] def summaryLine(
      medians: Map[String, Double], total: Double, sfDir: String,
      ab: Option[String] = None): String = {
    val top = medians.toSeq
      .filter(_._2 >= 0)
      .sortBy { case (n, v) => (-v, n) }
      .take(SummaryTopK)
      .map { case (n, v) => jstr(n) + ":" + fmt(v, 3) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec",""" +
      s""""queries":$top,"n":${medians.size},"sf":${jstr(sfDir)},""" +
      ab.map(a => s""""ab":$a,""").getOrElse("") +
      s""""detail":"BENCH_DETAIL.json"}"""
  }

  /** The round's same-machine A/B verdict (tools/bench_ab.sh writes
    * tools/ab_latest.json): raw round-over-round totals swing ±30-60%
    * with ambient load, so the INTERLEAVED shared-set ratio is the only
    * trustworthy round-over-round number — carried on the contract line
    * when present. Bounded (≤240 chars) so the line budget holds.
    */
  private[graft] def abLatest(): Option[String] =
    try {
      val p = java.nio.file.Paths.get("tools/ab_latest.json")
      if (!java.nio.file.Files.isRegularFile(p)) None
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .replaceAll("\\s+", "")
        if (s.startsWith("{") && s.endsWith("}") && s.length <= 240) Some(s)
        else None
      }
    } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") == "1"
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // uncounted warmup: JVM/codegen/parquet-footer/shuffle initialization
    // would otherwise be billed to whichever query runs first
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).count()
      spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 7)
        .as("k")).count().count() // shuffle + whole-stage codegen paths
    } catch { case _: Throwable => () }

    // Deterministic battery order: round 2 showed per-query times shifting
    // with Map iteration order as queries were added.
    // SPARK_GRAFT_BENCH_ONLY=q25_...,q46_... runs a subset (local scale
    // studies); the driver sets no filter and always times the full battery.
    val onlyFilter = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => onlyFilter.forall(_.contains(n)))
    // Full uncounted warm-up pass: the generic warmup above doesn't touch
    // each query's own codegen/broadcast/parquet-footer paths, and rounds
    // 5–6 showed the fast relational queries' medians flapping 2–4× purely
    // with battery position (q01 raw runs [0.555, 0.122, 0.9]). One extra
    // pass trades ~⅓ more bench wall time for first-run JIT/cache noise
    // never reaching a counted sample. Disable: SPARK_GRAFT_BENCH_WARMUP=0.
    if (warmup) for (name <- names) {
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () } // counted passes report the error
      finally { try spark.catalog.clearCache() catch { case _: Throwable => () } }
    }
    val runs = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val setupRuns = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val errors = scala.collection.mutable.Map[String, String]()
    for (_ <- 1 to passes; name <- names) {
      val fn = SparkEntry.queries(name)
      BenchPhases.reset()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        runs(name) = runs(name) :+ (System.nanoTime() - t0) / 1e9
        setupRuns(name) = setupRuns(name) :+ BenchPhases.drainSeconds()
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(
            name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      } finally {
        // sketch operators persist() their pair sets for callers to
        // reuse; un-released across 3 passes × N queries those caches
        // pin executor storage and skew later-pass medians — each query
        // starts cold (finally: a query failing mid-persist must not
        // leak its cache into every subsequent timing either)
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      }
    }

    val medians = names.map(n => n -> median(runs(n))).toMap
    val total = names.map(n => medians(n)).filter(_ >= 0).sum
    val rawRuns = names
      .map(n => jstr(n) + ":" + runs(n).map(fmt(_, 3)).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val medianJson = names
      .map(n => jstr(n) + ":" + fmt(medians(n), 3))
      .mkString("{", ",", "}")
    // Fixture-vs-operator attribution: queries that build stateful fixtures
    // mark those blocks via BenchPhases.setup{}; `setup` is the median
    // fixture time and `measured` the median operator-only remainder
    // (per-run subtraction, so a slow pass's fixture doesn't subtract from
    // another pass's operator). `medians` above stays total wall time —
    // the number comparable against BASELINE.md's recorded runs.
    val setupMed = names.map(n => n -> median(setupRuns(n))).toMap
    val measuredJson = names.filter(n => setupMed(n) > 0.0).map { n =>
      val ms = runs(n).zip(setupRuns(n)).map { case (t, s) => t - s }
      jstr(n) + ":{\"setup\":" + fmt(setupMed(n), 3) +
        ",\"measured\":" + fmt(median(ms), 3) + "}"
    }.mkString("{", ",", "}")
    val status = names.map { n =>
      jstr(n) + ":" + jstr(errors.get(n).map(m => s"error: $m").getOrElse("ok"))
    }.mkString("{", ",", "}")
    // NRT latency: the engine's reason to exist is near-real-time arrival
    // (the reference's floor is its notebook schedule period); record the
    // steady-state feed-file→visible hop so a latency regression is a
    // diffable number, not an anecdote. SF-independent (synthetic small
    // batches). Disable: SPARK_GRAFT_BENCH_STREAM=0.
    val streamJson =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_STREAM", "1") != "1") "null"
      else try {
        // preload the target with the sf's orders so the steady-state
        // hop merges into an SF-SIZED silver — the latency number then
        // scales with the gate scale instead of measuring a toy table
        import org.apache.spark.sql.functions.{col, lit}
        val pre = Tables.table(spark, sfDir, "orders").select(
          col("o_orderkey").as("id"), col("o_orderstatus").as("v"),
          lit(0L).as("SYS_CHANGE_VERSION"), lit("I").as("SYS_CHANGE_OPERATION"))
        val s = graft.streaming.StreamingLatencyBench.run(
          spark, preload = Some(pre))
        s"""{"p50":${fmt(s.p50, 3)},"p95":${fmt(s.p95, 3)},""" +
          s""""max":${fmt(s.max, 3)},"bootstrap":${fmt(s.bootstrap, 3)},""" +
          s""""batches":${s.batches},"unit":"sec"}"""
      } catch { case e: Throwable =>
        s"""{"error":${jstr(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")}}"""
      }
    // provenance: the file is overwritten by whichever run went last
    val gitSha =
      try scala.sys.process.Process(Seq("git", "rev-parse", "--short", "HEAD"))
        .!!(scala.sys.process.ProcessLogger(_ => ())).trim match {
          case "" => "unknown"
          case sha => sha
        }
      catch { case _: Throwable => "unknown" }
    val detail =
      s"""{"bench_detail":1,"passes":$passes,"warmup":${if (warmup) 1 else 0},""" +
        s""""total":${fmt(total, 3)},""" +
        s""""sf":${jstr(sfDir)},"cpus":${jstr(cpus)},"git":${jstr(gitSha)},""" +
        s""""status":$status,"medians":$medianJson,""" +
        s""""fixture_split":$measuredJson,""" +
        s""""streaming_latency":$streamJson,"runs":$rawRuns}"""
    println(detail)
    // Full-precision record on disk: the stdout detail line is best-effort
    // (the driver's tail capture truncates it), the file is authoritative.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")),
        (detail + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail file write failed (non-fatal): $e")
    }

    val line = summaryLine(medians, total, sfDir, abLatest())
    println(line)
    spark.stop()
    // report EVERY failure mode before exiting — an oversize line and a
    // broken query can happen in the same run
    if (errors.nonEmpty)
      System.err.println(s"[bench] FAILED queries: ${errors.keys.toSeq.sorted.mkString(", ")}")
    if (line.length > SummaryMaxChars)
      System.err.println(
        s"[bench] FAILED: summary line ${line.length} chars exceeds the " +
          s"$SummaryMaxChars budget — the top-k bound is broken")
    if (errors.nonEmpty || line.length > SummaryMaxChars) sys.exit(1)
  }
}
