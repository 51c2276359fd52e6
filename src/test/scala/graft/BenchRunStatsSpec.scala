package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Bench's always-on listener files each job, stage and task under the
  * run tag of the thread that submitted it.
  */
class BenchRunStatsSpec extends SparkSpec {

  test("per-tag job counts are exact; untagged jobs are counted apart") {
    val sc = spark.sparkContext
    val stats = new Bench.RunStats
    sc.addSparkListener(stats)
    try {
      val rdd = sc.parallelize(1 to 10, 2) // one job, one stage, two tasks
      Bench.tagged(sc, "a#0")(rdd.count())
      Bench.tagged(sc, "b#0") { rdd.count(); rdd.count() }
      rdd.count()
      // the bus delivers events in order: once the sentinel's stage is
      // in, every earlier job's events are too
      Bench.tagged(sc, "end")(rdd.count())
      eventually(timeout(30.seconds)) {
        assert(stats.counts.get("end").exists(_.stages == 1))
      }
      val c = stats.counts
      assert((c("a#0").jobs, c("a#0").stages, c("a#0").tasks) == ((1L, 1L, 2L)))
      assert((c("b#0").jobs, c("b#0").stages, c("b#0").tasks) == ((2L, 2L, 4L)))
      assert(c.get("").exists(_.jobs >= 1), s"untagged job dropped: $c")
    } finally sc.removeSparkListener(stats)
  }
}
