package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Shared local session: one per suite (lazy), UTC, small shuffle width. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session(4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Spark jobs `body` submits, counted under a job-group tag. */
  def jobsIn(body: => Any): Long = {
    val sc = spark.sparkContext
    val stats = new Bench.RunStats
    sc.addSparkListener(stats)
    try {
      Bench.tagged(sc, "counted")(body)
      // the bus delivers events in order: once the sentinel's stage is
      // in, every earlier job's events are too
      Bench.tagged(sc, "end")(sc.parallelize(1 to 2, 1).count())
      eventually(timeout(30.seconds)) {
        assert(stats.counts.get("end").exists(_.stages == 1))
      }
      stats.counts.get("counted").fold(0L)(_.jobs)
    } finally sc.removeSparkListener(stats)
  }
}
