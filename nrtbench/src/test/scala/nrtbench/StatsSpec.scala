package nrtbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some((90.0, 90.0)))
    // 20 samples: rank 10, half of them beyond
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)))
    // 11 samples: only the minimum has ten beyond it
    assert(Stats.tail((1 to 11).map(_.toDouble).reverse) == Some((100.0 / 11, 1.0)))
    // ten or fewer: no tail can be read
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    // the count beyond is a parameter
    assert(Stats.tail((1 to 100).map(_.toDouble), beyond = 1) == Some((99.0, 99.0)))
  }

  test("nearest-rank median") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(5.0), 0.0) == 5.0)
  }

  test("self time subtracts children once, clipped to the span") {
    // span 0..100, children 10..30 and 20..50 overlap: 40 covered
    assert(Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 50L))) == 60)
    // a child reaching outside the span only counts inside it
    assert(Stats.selfTime(0, 100, Seq((-20L, 10L), (90L, 150L))) == 80)
    // disjoint children add up
    assert(Stats.selfTime(0, 100, Seq((0L, 10L), (50L, 60L))) == 80)
    assert(Stats.selfTime(0, 100, Nil) == 100)
    // a child covering the whole span leaves nothing
    assert(Stats.selfTime(10, 20, Seq((0L, 30L))) == 0)
  }

  test("union length ignores empty intervals and merges touching ones") {
    assert(Stats.unionLength(Seq((5L, 5L), (1L, 3L), (3L, 4L))) == 3)
    assert(Stats.unionLength(Nil) == 0)
  }

  test("storage amplification counts data, change feed and metadata bytes") {
    val dir = Files.createTempDirectory("nrtbench-amp").toFile
    def put(rel: String, n: Int): Unit = {
      val f = new java.io.File(dir, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, new Array[Byte](n))
    }
    put("data/a/part-0.parquet", 300)
    put("data/b/part-1.parquet", 100) // removed by a merge, not yet vacuumed
    put("_changes/v2/part-0.parquet", 50)
    put("_graft/manifest-v1.json", 30)
    put("_graft/manifest-v2.json", 20)
    val bytes = Stats.dirBytes(dir)
    assert(bytes == Map("data" -> 400L, "_changes" -> 50L, "_graft" -> 50L))
    assert(Stats.storageAmp(bytes, 250L) == 2.0)
    assertThrows[IllegalArgumentException](Stats.storageAmp(bytes, 0L))
  }

  test("open-loop lateness and latency count from the due time") {
    val due = Seq(0L, 100L, 200L)
    assert(Stats.lateness(due, Seq(0L, 130L, 190L)) == Seq(0L, 30L, 0L))
    // a stalled generator: the third item was issued late, and its
    // latency includes the wait
    assert(Stats.latencyFromDue(due, Seq(Some(50L), Some(160L), Some(400L))) ==
      Seq(Some(50L), Some(60L), Some(200L)))
    assert(Stats.latencyFromDue(Seq(0L), Seq(None)) == Seq(None))
    assertThrows[IllegalArgumentException](Stats.lateness(due, Seq(0L)))
  }

  test("late-over-early compares the last quarter with the first") {
    assert(Stats.lateOverEarly(Seq(1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0)).contains(2.0))
    assert(Stats.lateOverEarly(Seq(1.0, 2.0, 3.0)).isEmpty)
  }
}
