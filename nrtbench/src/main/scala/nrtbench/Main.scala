package nrtbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.GraftTable

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <result.json>`. Prints a summary and,
  * as its last stdout line, `{"metrics": {...}, "correct": ...}` with
  * every metric it measured; exits 1 if any output disagreed with the
  * generator's ground truth.
  */
object Main {
  /** Setups per run; setup_s is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = need("work")
    val cpus = opt.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString)
    val setupReps = opt.get("setup-reps").map(_.toInt).getOrElse(SetupReps)
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val spark = GraftSession.builder(cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    val sparkWork = new SparkWork
    val readListener = new ReadListener
    if (traced) {
      sc.addSparkListener(sparkWork)
      spark.listenerManager.register(readListener)
    }
    val tracer = new Tracer(sc, traced)
    val reads = new Reads(spark, tracer, readListener)
    val ctx = new Ctx(spark, tracer, reads, progress, seed, seconds, work)
    val wl = Workloads(workload, ctx)
    val rec = new Recorder

    val setups = mutable.ArrayBuffer.empty[Double]
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    phases("jvm_and_session") =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    var lastSetup = (0L, 0L)
    var storage: Option[Double] = None
    var heapMb = 0.0
    var window = (0L, 0L)
    var windowMs = (0L, 0L)
    var versionsAtStart = 0L
    val e2e = mutable.LinkedHashMap.empty[String, Metric]
    var layers = Map.empty[String, Metric]
    var layerSelf = Map.empty[String, Double]
    try {
      (0 until setupReps).foreach { rep =>
        if (rep > 0) {
          wl.discard()
          deleteTree(new File(s"$work/rep${rep - 1}"))
        }
        val t0 = System.nanoTime()
        wl.setup(rep, s"$work/rep$rep")
        val t1 = System.nanoTime()
        setups += (t1 - t0) / 1e9
        lastSetup = (t0, t1)
      }
      phase("setup")
      wl.warmUp(rec)
      phase("warm_up")
      // measured after the fixed warm-up, not at run end: dead files and
      // change-feed rows grow with every cycle, and a faster build fits
      // more cycles into the run
      storage = Some(storageAmp(spark, wl.silverTables, s"$work/plain"))
      versionsAtStart = wl.silverTables.flatMap(_.latestVersion).sum
      phase("storage")
      window = (System.nanoTime(), 0L)
      windowMs = (System.currentTimeMillis(), 0L)
      wl.measure(seconds, rec)
      window = window.copy(_2 = System.nanoTime())
      windowMs = windowMs.copy(_2 = System.currentTimeMillis())
      phase("measure")
      heapMb = retainedHeapMb()
      wl.verify(rec)
      phase("verify")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.check(ok = false, s"run aborted: $e")
    }
    try {
      e2e ++= endToEnd(setups.toSeq, rec, storage, heapMb)
      if (traced && window._2 > 0) {
        org.apache.spark.nrtbench.ListenerBusAccess.drain(sc)
        val streams = wl.streams
        val (l, self) = Layers(TraceInput(
          tracer.spans, sparkWork.byOwner,
          reads.traced.asScala.toSeq.map { case (k, qe, files) => (k, readListener.statsOf(qe), files) },
          streams.get("silver").map(progress.of).getOrElse(Nil),
          streams.get("gold").map(progress.of).getOrElse(Nil),
          streams.get("silver"), streams.get("gold"), window, windowMs, lastSetup,
          wl.silverTables, versionsAtStart, wl.controlPlane, rec.rowsVisible))
        layers = l
        layerSelf = self
        phase("report")
      }
    } finally {
      wl.close()
    }

    val correct = rec.failed == 0
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "correct" -> correct,
      "attempted" -> rec.attempted, "failed" -> rec.failed, "failures" -> rec.failures.toSeq,
      "provenance" -> Map(
        "cpus" -> cpus.toInt, "seed" -> seed, "run_seconds" -> seconds,
        "measured_seconds" -> rec.measuredSeconds,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "inputs" -> "generated from the seed (synthetic; no external data read)",
        "git_sha" -> opt.getOrElse("git-sha", "unknown"),
        "source_digest" -> opt.getOrElse("source-digest", "unknown"),
        "spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "flush_policy" -> "local filesystem, no fsync; identical for every build measured"),
      "workload_shape" -> wl.describe,
      "end_to_end" -> e2e.map { case (k, m) => k -> metricJson(m) },
      "per_layer" -> layers.toSeq.sortBy(_._1).map { case (k, m) => k -> metricJson(m) }.toMap,
      "samples" -> Map("fresh_s" -> rec.fresh.toSeq, "gold_fresh_s" -> rec.goldFresh.toSeq,
        "lookup_s" -> rec.lookups.toSeq, "scan_s" -> rec.scans.toSeq),
      "layer_self_seconds" -> layerSelf,
      "phase_seconds" -> phases,
      "setup_seconds" -> setups.toSeq,
      "largest_self_layer" -> layerSelf.maxByOption(_._2).map(_._1).getOrElse(""))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    opt.get("out").foreach { p =>
      val f = new File(p)
      f.getParentFile.mkdirs()
      mapper.writerWithDefaultPrettyPrinter().writeValue(f, result)
    }
    e2e.foreach { case (k, m) =>
      println(f"# $k%-22s ${m.value}%.6f ${m.unit}" + m.n.map(n => s" n=$n").getOrElse("") +
        m.pct.map(p => f" at p$p%.1f").getOrElse(""))
    }
    rec.failures.foreach(f => println(s"# FAILED: $f"))
    val shown = if (traced) layers else e2e.toMap
    println(mapper.writeValueAsString(Map(
      "correct" -> correct, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> shown.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) })))
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }

  private def metricJson(m: Metric): Map[String, Any] =
    Map("value" -> m.value, "unit" -> m.unit) ++ m.n.map("n" -> _) ++ m.pct.map("percentile" -> _)

  def endToEnd(setups: Seq[Double], rec: Recorder, storage: Option[Double],
      heapMb: Double): Seq[(String, Metric)] = {
    val out = mutable.ArrayBuffer.empty[(String, Metric)]
    def dist(name: String, xs: Seq[Double], withTail: Boolean): Unit = if (xs.nonEmpty) {
      out += s"${name}_p50_s" -> Metric(Stats.median(xs), "s", Some(xs.size))
      if (withTail) Stats.tail(xs).foreach { case (pct, v) =>
        out += s"${name}_tail_s" -> Metric(v, "s", Some(xs.size), Some(pct))
      }
    }
    if (setups.nonEmpty) out += "setup_s" -> Metric(Stats.median(setups), "s", Some(setups.size))
    dist("fresh", rec.fresh.toSeq, withTail = true)
    dist("gold_fresh", rec.goldFresh.toSeq, withTail = true)
    if (rec.measuredSeconds > 0)
      out += "rows_per_s" -> Metric(rec.rowsVisible / rec.measuredSeconds, "rows/s")
    dist("lookup", rec.lookups.toSeq, withTail = true)
    dist("scan", rec.scans.toSeq, withTail = false)
    out += "error_rate" -> Metric(rec.failed.toDouble / math.max(rec.attempted, 1L), "ratio",
      Some(rec.attempted.toInt))
    if (rec.genLagS > 0 || rec.goldFresh.nonEmpty) out += "gen_lag_s" -> Metric(rec.genLagS, "s")
    storage.foreach(s => out += "storage_amp" -> Metric(s, "ratio"))
    if (heapMb > 0) out += "retained_heap_mb" -> Metric(heapMb, "MB")
    out.toSeq
  }

  /** On-disk bytes of the tables (data files live or awaiting vacuum,
    * change feed, metadata) over their live rows written once as plain
    * Parquet.
    */
  private def storageAmp(spark: SparkSession, tables: Seq[GraftTable], scratch: String): Double = {
    val onDisk = tables.map(t => Stats.dirBytes(new File(t.root)))
      .reduce((a, b) => (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)
    val plain = tables.zipWithIndex.map { case (t, i) =>
      val dir = s"$scratch/t$i"
      t.snapshot.write.parquet(dir)
      val bytes = Option(new File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      deleteTree(new File(dir))
      bytes
    }.sum
    Stats.storageAmp(onDisk, plain)
  }

  /** Driver heap still in use after forced collections: caches and
    * persisted frames that outlive the cycles that made them.
    */
  private def retainedHeapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    bean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
