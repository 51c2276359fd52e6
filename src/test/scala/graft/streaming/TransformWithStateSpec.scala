package graft.streaming

import graft.model._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The transformWithState merge must produce the same per-day rows as
  * the flatMapGroupsWithState merge — two state APIs, one fold.
  * RocksDB state store provider (required by transformWithState) gets
  * its own session.
  */
class TransformWithStateSpec extends AnyFunSuite {

  // isolated child session (see BucketingSpec): the RocksDB provider
  // conf must not leak into the other streaming suites' sessions
  private lazy val spark: SparkSession = {
    val s = graft.Session(4).newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  private def tick(d: String, close: Double) =
    SpeedDelta(d, 0L, Some(Tick(d, None, None, None, Some(close), None, None)), None)
  private def sent(d: String, seq: Long, p: Double) =
    SpeedDelta(d, seq, None, Some(SentimentScore(p, 0.1, 0.2)))

  test("transformWithState merge equals the flatMapGroupsWithState merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val deltas = Seq(
      tick("2026-08-10", 101.0),
      sent("2026-08-10", 1, 0.9), sent("2026-08-10", 2, 0.5), sent("2026-08-10", 3, 0.7),
      tick("2026-08-11", 99.0), sent("2026-08-11", 1, 0.4))

    val mem = MemoryStream[SpeedDelta]
    val ckpt = java.nio.file.Files.createTempDirectory("tws").toString
    val q = SpeedLayer.mergeDeltasTws(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("tws_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    mem.addData(deltas.take(3): _*)
    q.processAllAvailable()
    mem.addData(deltas.drop(3): _*)
    q.processAllAvailable()
    q.stop()

    // last emitted row per day == the batch fold over everything
    val tws = spark.table("tws_out").as[SpeedRow].collect()
      .zipWithIndex.groupBy(_._1.date)
      .map { case (d, rs) => d -> rs.maxBy(_._2)._1 }
    val ref = SpeedLayer.mergeDeltas(deltas.toDS()).collect()
      .map(r => r.date -> r).toMap
    assert(tws.keySet == ref.keySet)
    for ((d, r) <- ref) assert(tws(d) == r, s"day $d: ${tws(d)} vs $r")
  }

  test("capacity: thousands of day keys on RocksDB — state rows track days, not input rows") {
    // The capacity half of the T7 scale story: 2000 distinct day keys x
    // 10 deltas each (20k input rows in one batch) must leave exactly
    // 2000 state rows — state is O(active days), never O(rows seen) —
    // and a follow-up batch of 50 fresh days moves it to 2050, all on
    // the RocksDB provider. The EVICTION half is pinned deterministically
    // in StateCapacitySpec via TestGroupState: with a retention clocked
    // by processing time, Spark 4.1's continuous no-data-batch loop
    // (shouldRunAnotherBatch=true) starves MemoryStream admission in
    // this harness — observed as thousands of committed no-data batches
    // with the source offset pinned at 0 across TWS/fMGWS x RocksDB/HDFS
    // — so the wall-clock firing path is not assertable here.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def day(i: Int): String = java.time.LocalDate.of(2020, 1, 1).plusDays(i).toString
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
        .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)

    val mem = MemoryStream[SpeedDelta]
    val ckpt = java.nio.file.Files.createTempDirectory("tws_cap").toString
    val q = SpeedLayer.mergeDeltasTws(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("tws_cap_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    mem.addData((for (i <- 0 until 2000; s <- 1 to 10)
      yield sent(day(i), s, 0.5)): _*)
    q.processAllAvailable()
    assert(stateRows(q) == 2000L, s"expected 2000 state rows, got ${stateRows(q)}")

    mem.addData((2000 until 2050).map(i => sent(day(i), 1, 0.5)): _*)
    q.processAllAvailable()
    assert(stateRows(q) == 2050L, s"expected 2050 state rows, got ${stateRows(q)}")

    // and the fold stayed correct under the 10-deltas-per-key batch:
    // every day-key row reports all 10 articles merged
    val rows = spark.table("tws_cap_out").as[SpeedRow].collect()
      .filter(_.date < day(2000))
    assert(rows.length == 2000)
    rows.foreach(r => assert(r.nbrArticle == 10L, s"${r.date}: $r"))
    q.stop()
  }
}
