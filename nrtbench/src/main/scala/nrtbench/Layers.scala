package nrtbench

import scala.collection.mutable

import graft.sources.GraftTable

/** A reported value with its unit; `n` is its sample count and `pct` the
  * percentile a tail was read at, where they apply.
  */
final case class Metric(value: Double, unit: String, n: Option[Int] = None, pct: Option[Double] = None)

/** Inputs of the per-layer report of a traced run. */
final case class TraceInput(
    spans: Seq[Span], jobs: Map[String, Seq[JobRec]], reads: Seq[(String, Option[ReadStats], Long)],
    silver: Seq[Progress], gold: Seq[Progress], silverQuery: Option[String], goldQuery: Option[String],
    window: (Long, Long), windowMs: (Long, Long), lastSetup: (Long, Long),
    tables: Seq[GraftTable], versionsAtStart: Long, controlPlane: Option[graft.pipeline.ConfigStore],
    rowsChanged: Long)

/** Per-layer metrics of a traced run, named `<module>.<what>`. Layers are
  * the engine modules the benchmark calls into; a layer's self time is
  * its spans' time minus what their child spans cover. A metric whose
  * layer the workload does not exercise reads 0.
  */
object Layers {
  private val ms = 1e6

  def apply(in: TraceInput): (Map[String, Metric], Map[String, Double]) = {
    val (w0, w1) = in.window
    val inWindow = in.spans.filter(s => s.startNs >= w0 && s.endNs <= w1)
    val children = in.spans.groupBy(_.parent)
    def kids(s: Span) = children.getOrElse(s.id, Nil)
    def self(s: Span): Long = Stats.selfTime(s.startNs, s.endNs, kids(s).map(k => (k.startNs, k.endNs)))
    def jobsOf(s: Span): Seq[JobRec] = in.jobs.getOrElse(s"span:${s.id}", Nil)
    def inclusiveJobs(s: Span): Int = jobsOf(s).size + kids(s).map(inclusiveJobs).sum
    def named(p: String => Boolean) = inWindow.filter(s => p(s.name))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val out = mutable.LinkedHashMap.empty[String, Metric]
    def put(k: String, v: Double, unit: String): Unit = out(k) = Metric(v, unit)

    /** Spark work of spans, per span: jobs, tasks, task time, shuffle
      * bytes, and driver time = self time not covered by own jobs.
      */
    def generic(prefix: String, spans: Seq[Span]): Unit = {
      val n = math.max(spans.size, 1).toDouble
      val js = spans.map(jobsOf)
      put(s"$prefix.jobs", js.map(_.size).sum / n, "count")
      put(s"$prefix.tasks", js.flatten.map(_.tasks).sum / n, "count")
      put(s"$prefix.task_ms", js.flatten.map(_.taskMs).sum / n, "ms")
      put(s"$prefix.shuffle_bytes", js.flatten.map(_.shuffleBytes).sum / n, "bytes")
      val driver = spans.zip(js).map { case (s, j) =>
        self(s) - Stats.unionLength(j.map(x => (math.max(x.startNs, s.startNs), math.min(x.endNs, s.endNs))))
      }
      put(s"$prefix.driver_ms", driver.map(math.max(_, 0L)).sum / n / ms, "ms")
    }

    // ---- pipeline.SilverLoader ----
    val runs = named(_ == "silverloader.run")
    val loads = named(_ == "silverloader.load_entity")
    put("silverloader.run_ms", mean(runs.map(_.durNs / ms)), "ms")
    put("silverloader.load_entity_ms", mean(loads.map(_.durNs / ms)), "ms")
    put("silverloader.extract_self_ms", mean(loads.map(self(_) / ms)), "ms")
    put("silverloader.jobs_per_load", mean(loads.map(inclusiveJobs(_).toDouble)), "count")
    put("silverloader.useful_load_ratio",
      if (loads.isEmpty) 0.0 else loads.map(_.attrs.getOrElse("moved", 0.0)).sum / loads.size, "ratio")
    generic("silverloader", loads)

    // ---- pipeline.ControlPlane ----
    val cp = named(_.startsWith("controlplane."))
    def cpMean(m: String) = mean(cp.filter(_.name == s"controlplane.$m").map(_.durNs / ms))
    put("controlplane.entities_with_watermarks_ms", cpMean("entities_with_watermarks"), "ms")
    put("controlplane.open_watermark_ms", cpMean("open_watermark"), "ms")
    put("controlplane.close_watermark_ms", cpMean("close_watermark"), "ms")
    put("controlplane.vacuum_ms", cpMean("vacuum"), "ms")
    put("controlplane.close_late_over_early", Stats.lateOverEarly(
      cp.filter(_.name == "controlplane.close_watermark").map(_.durNs.toDouble)).getOrElse(0.0), "ratio")
    val wm = in.controlPlane.map(_.watermarksTable)
    put("controlplane.watermark_rows_end",
      wm.filter(_.exists).map(_.snapshot.count().toDouble).getOrElse(0.0), "count")
    put("controlplane.watermark_files_end",
      wm.map(t => countFiles(new java.io.File(t.root)).toDouble).getOrElse(0.0), "count")
    generic("controlplane", cp)

    // ---- operators.Merge ----
    val merges = named(_ == "merge")
    put("merge.execute_ms", mean(merges.map(_.durNs / ms)), "ms")
    generic("merge", merges)
    def attrMean(k: String) = mean(merges.map(_.attrs.getOrElse(k, 0.0)))
    put("merge.input_bytes", mean(merges.map(s => jobsOf(s).map(_.inputBytes).sum.toDouble)), "bytes")
    put("merge.files_added", attrMean("files_added"), "count")
    put("merge.files_removed", attrMean("files_removed"), "count")
    put("merge.bytes_written", attrMean("bytes_written"), "bytes")
    val rewritten = merges.map(_.attrs.getOrElse("rows_in_removed", 0.0)).sum
    put("merge.rewrite_efficiency", if (rewritten > 0) in.rowsChanged / rewritten else 0.0, "ratio")

    // ---- sources.GraftTable ----
    val (s0, s1) = in.lastSetup
    put("table.bootstrap_ms", in.spans.filter(s => s.name == "table.overwrite" &&
      s.startNs >= s0 && s.endNs <= s1).map(_.durNs / ms).sum, "ms")
    val versionsNow = in.tables.flatMap(_.latestVersion).sum
    val loadsMoved = loads.count(_.attrs.getOrElse("moved", 0.0) > 0) +
      in.silver.count(p => p.endMs >= in.windowMs._1 && p.endMs <= in.windowMs._2 && p.inputRows > 0)
    put("table.versions_per_load",
      if (loadsMoved == 0) 0.0 else (versionsNow - in.versionsAtStart).toDouble / loadsMoved, "count")
    put("table.files_end", in.tables.map(t => t.latestManifest.map(t.filesOf(_).size).getOrElse(0)).sum, "count")
    put("table.manifests_end", in.tables.map(t => Option(new java.io.File(t.root, "_graft").listFiles())
      .toSeq.flatten.count(_.getName.startsWith("manifest-"))).sum, "count")
    put("table.bytes_end", in.tables.map(t => Stats.dirBytes(new java.io.File(t.root)).values.sum).sum, "bytes")

    // ---- sources.GraftDataSource (+ BloomSkipping) ----
    val rs = in.reads.collect { case (k, Some(st), files) => (k, st, files) }
    val lookups = rs.filter(_._1 == "lookup")
    put("read.plan_ms", mean(rs.map(_._2.planMs)), "ms")
    put("read.lookup_files_read", mean(lookups.map(_._2.filesRead.toDouble)), "count")
    put("read.lookup_skip_ratio", mean(lookups.filter(_._3 > 0).map(x =>
      1.0 - x._2.filesRead.toDouble / x._3)), "ratio")
    put("read.lookup_bytes_read", mean(lookups.map(_._2.bytesRead.toDouble)), "bytes")
    put("read.scan_bytes_read", mean(rs.filter(_._1 == "scan").map(_._2.bytesRead.toDouble)), "bytes")
    generic("read.lookup", named(_ == "read.lookup"))
    generic("read.scan", named(_ == "read.scan"))

    // ---- streaming ----
    def streamLayer(role: String, ps: Seq[Progress], q: Option[String], extra: Seq[(String, String)],
        childSpans: Seq[Span]): Double = {
      val batches = ps.filter(p => p.inputRows > 0 && p.endMs >= in.windowMs._1 && p.endMs <= in.windowMs._2)
      val n = math.max(batches.size, 1).toDouble
      val start = in.spans.filter(s => s.name == s"stream.$role.start" && s.startNs >= s0 && s.endNs <= s1)
      put(s"stream.$role.start_ms", start.map(_.durNs / ms).sum, "ms")
      put(s"stream.$role.batch_ms", mean(batches.map(_.durationMs.getOrElse("triggerExecution", 0L).toDouble)), "ms")
      put(s"stream.$role.add_batch_ms", mean(batches.map(_.durationMs.getOrElse("addBatch", 0L).toDouble)), "ms")
      extra.foreach { case (name, key) =>
        put(s"stream.$role.$name", mean(batches.map(_.durationMs.getOrElse(key, 0L).toDouble)), "ms") }
      put(s"stream.$role.batches", batches.size, "count")
      val qJobs = q.toSeq.flatMap(id => in.jobs.getOrElse(s"query:$id", Nil))
        .filter(j => j.startNs >= w0 && j.startNs <= w1)
      put(s"stream.$role.jobs", qJobs.size / n, "count")
      put(s"stream.$role.tasks", qJobs.map(_.tasks).sum / n, "count")
      put(s"stream.$role.task_ms", qJobs.map(_.taskMs).sum / n, "ms")
      put(s"stream.$role.shuffle_bytes", qJobs.map(_.shuffleBytes).sum / n, "bytes")
      val selfNs = batches.map(_.durationMs.getOrElse("triggerExecution", 0L) * 1e6).sum -
        childSpans.map(_.durNs.toDouble).sum
      val jobNs = Stats.unionLength(qJobs.map(j => (j.startNs, j.endNs)))
      put(s"stream.$role.driver_ms", math.max(0.0, selfNs - jobNs) / n / ms, "ms")
      math.max(0.0, selfNs)
    }
    // merges the silver stream ran on its own thread are its children
    val streamMerges = inWindow.filter(s => (s.name == "merge" || s.name == "table.overwrite") &&
      s.parent == 0L && !s.thread.equals("main"))
    val silverSelf = streamLayer("silver", in.silver, in.silverQuery, Seq("latest_offset_ms" -> "latestOffset"),
      streamMerges)
    put("stream.silver.rows_per_batch", mean(in.silver.filter(p => p.inputRows > 0 &&
      p.endMs >= in.windowMs._1 && p.endMs <= in.windowMs._2).map(_.inputRows.toDouble)), "count")
    val goldSelf = streamLayer("gold", in.gold, in.goldQuery, Seq("get_batch_ms" -> "getBatch"), Nil)

    // ---- self time per layer over the measured window ----
    val selfNs = Map(
      "silverloader" -> (runs ++ loads).map(self).sum.toDouble,
      "controlplane" -> cp.map(self).sum.toDouble,
      "merge" -> merges.map(self).sum.toDouble,
      "table" -> named(_ == "table.overwrite").map(self).sum.toDouble,
      "read" -> named(_.startsWith("read.")).map(self).sum.toDouble,
      "stream.silver" -> silverSelf,
      "stream.gold" -> goldSelf)
    val windowNs = (w1 - w0).toDouble
    selfNs.toSeq.sortBy(_._1).foreach { case (layer, ns) => put(s"$layer.self_share", ns / windowNs, "ratio") }
    (out.toMap, selfNs.map { case (k, v) => k -> v / 1e9 })
  }

  private def countFiles(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles).sum else 1L
}
