package graft

import graft.batch.BatchPipeline
import graft.serving.{ArxForecaster, ServingJob}
import graft.sources.{FileStreamSource, ViewStore}
import graft.streaming.{Ingest, SpeedLayer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Runnable end-to-end lambda stack (SURVEY §3) on generated fixture
  * streams: file-source ingest -> masters -> batch recompute ->
  * batch_view; speed merge -> speed_view; range scan -> forecast ->
  * serving_view. `runMain graft.LambdaDemo [workDir]`.
  */
object LambdaDemo {
  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0)
      else Files.createTempDirectory("graft_lambda_").toString
    val spark = Session()
    import spark.implicits._

    // ---- fixture streams (producer stand-ins, FIXTURES.md shapes);
    // one directory per topic: a file source reads every file in its
    // dir, so mixing topics would cross-contaminate the parsers
    val inTicks = Files.createDirectories(java.nio.file.Paths.get(s"$root/in_ticks")).toString
    val inNews = Files.createDirectories(java.nio.file.Paths.get(s"$root/in_news")).toString
    val days = (1 to 12).map(i => f"2026-07-$i%02d")
    val ticks = days.zipWithIndex.map { case (d, i) =>
      val c = 100.0 + 3 * i
      s"""{"Date":"$d","Open":"${c - 1}","High":"${c + 2}","Low":"${c - 2}","Close":"$c","Volume":"${1000 + i}"}"""
    }
    val news = days.zipWithIndex.flatMap { case (d, i) =>
      Seq(s"""{"Date":"$d","Text":"stocks rally strong gain and growth on day $i http://x.co/$i"}""",
        s"""{"Date":"$d","Text":"some risk of loss and decline remains #caution day $i"}""")
    }
    Files.write(java.nio.file.Paths.get(s"$inTicks/ticks.txt"),
      String.join("\n", ticks: _*).getBytes)
    Files.write(java.nio.file.Paths.get(s"$inNews/news.txt"),
      String.join("\n", news: _*).getBytes)

    val store = new ViewStore(spark, s"$root/views")

    // ---- ingest layer (K1): streams -> masters
    val parsedStock = SpeedLayer.parseStock(new FileStreamSource(inTicks).load(spark))
    val parsedNews = SpeedLayer.parseNews(new FileStreamSource(inNews).load(spark))
    val q1 = Ingest.startMasterAppend(parsedStock, store, "stock_master", "Date",
      s"$root/cp_stock", keyed = true, trigger = Trigger.AvailableNow())
    val q2 = Ingest.startMasterAppend(parsedNews, store, "news_master", "Date",
      s"$root/cp_news", keyed = false, trigger = Trigger.AvailableNow())
    q1.awaitTermination(); q2.awaitTermination()
    println(s"[demo] stock_master rows: ${store.read("stock_master").count()}")
    println(s"[demo] news_master rows:  ${store.read("news_master").count()}")

    // ---- batch layer (§3.1): masters -> batch_view
    val batchView = BatchPipeline.run(
      store.read("news_master").select("Date", "Text"),
      store.read("stock_master")
        .select(col("Date"), col("Open").cast("double"), col("High").cast("double"),
          col("Low").cast("double"), col("Close").cast("double"),
          col("Volume").cast("double")),
      today = days.last)
    store.overwrite("batch_view", batchView, "Date")
    println(s"[demo] batch_view rows:   ${store.read("batch_view").count()}")
    store.read("batch_view").orderBy("Date").show(3, truncate = false)

    // ---- serving layer (§3.3): range scan -> one-step forecast
    val hist = store.rangeScan("batch_view", "Date", days.head, days(days.size - 2))
      .select(col("Date").as("d"), col("Close").as("y"),
        col("Nbr_article").cast("double").as("n_articles"),
        col("Positive").as("pos"))
    val served = ServingJob.run(spark, hist, "d", "y", Seq("n_articles", "pos"),
      horizonDate = days.last, new ArxForecaster(p = 2))
    store.append("serving_view", served.withColumnRenamed("d", "Date"), "Date")
    println("[demo] serving_view:")
    store.read("serving_view").show(truncate = false)

    spark.stop()
  }
}
