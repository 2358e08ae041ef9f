package nrtbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sources.GraftTable

/** Everything a workload needs from the run. */
final class Ctx(
    val spark: SparkSession, val tracer: Tracer, val reads: Reads,
    val progress: StreamProgress, val seed: Long, val seconds: Double,
    val workDir: String) {
  val writer = new Writer(spark, s"$workDir/scratch")
}

/** Samples and operation counts of one run. Samples are kept only while
  * `measuring`; operations and their failures count from setup to the
  * final check, because a wrong answer anywhere fails the run.
  */
final class Recorder {
  var measuring = false
  val fresh = mutable.ArrayBuffer.empty[Double]
  val goldFresh = mutable.ArrayBuffer.empty[Double]
  val lookups = mutable.ArrayBuffer.empty[Double]
  val scans = mutable.ArrayBuffer.empty[Double]
  var rowsVisible = 0L
  var measuredSeconds = 0.0
  var genLagS = 0.0
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def sample(buf: mutable.ArrayBuffer[Double], v: Double): Unit =
    if (measuring) synchronized(buf += v)

  /** Count one operation; `ok = false` is a failure with `detail`. */
  def check(ok: Boolean, detail: => String): Unit = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += detail
    }
  }
}

/** One workload. The runner calls setup several times (each into a
  * fresh directory, discarding all but the last), then warmUp, measure
  * and verify on the last setup's state.
  */
trait Workload {
  /** Everything before the first measured operation. */
  def setup(rep: Int, dir: String): Unit
  /** Release a setup that will not be measured (stop its streams). */
  def discard(): Unit
  /** Uncounted cycles, so caches fill and lazy set-up finishes. */
  def warmUp(rec: Recorder): Unit
  /** The measured phase: at least `seconds` of work. */
  def measure(seconds: Double, rec: Recorder): Unit
  /** The final-state check against the generator's ground truth. */
  def verify(rec: Recorder): Unit
  /** Silver tables, for storage and table metrics. */
  def silverTables: Seq[GraftTable]
  /** Stream query ids by role ("silver", "gold"). */
  def streams: Map[String, String] = Map.empty
  /** The batch loader's control plane, if the workload has one. */
  def controlPlane: Option[graft.pipeline.ConfigStore] = None
  /** Sizes, loop type and rate, for the result file. */
  def describe: Map[String, Any]
  def close(): Unit = ()
}

object Workloads {
  val names = Seq("ct_merge_hot", "entity_fanout", "medallion_stream")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ct_merge_hot" => new CtMergeHot(ctx)
    case "entity_fanout" => new EntityFanout(ctx)
    case "medallion_stream" => new MedallionStream(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${names.mkString(", ")})")
  }
}
