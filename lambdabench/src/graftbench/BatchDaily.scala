package graftbench

import java.io.File
import java.nio.file.Files
import graft.batch.BatchPipeline
import graft.sources.FileStreamSource
import graft.streaming.{Ingest, SpeedLayer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Closed loop, one client, over the batch layer. Each iteration drains
  * one day's backlog of raw event files into the masters
  * (`Trigger.AvailableNow`), recomputes batch_view over the full masters
  * and overwrites it, then puts the masters back as they were.
  */
final class BatchDaily extends Workload {
  val name = "batch_daily"

  val Days = 60
  val DocsPerDay = 250
  val BacklogFiles = 24
  val WarmupIterations = 2

  final case class St(dir: File, store: TimedViewStore, m: Gen.Masters)
  type State = St

  def setup(ctx: Ctx, dir: File): St = {
    val spark = ctx.spark
    import spark.implicits._
    val m = Gen.masters(ctx.seed, Days, DocsPerDay, BacklogFiles)
    val store = new TimedViewStore(spark, new File(dir, "views").getPath, ctx.tr, ctx.traced)
    store.overwrite("news_master", m.news.toDF("Date", "Text"), "Date")
    // the stock master keeps the wire shape: every field a string
    store.overwrite("stock_master", m.days.zip(m.closes).map { case (d, c) =>
      (d, (c - 0.5).toString, (c + 1).toString, (c - 1.5).toString, c.toString, (c * 1000).toLong.toString)
    }.toDF("Date", "Open", "High", "Low", "Close", "Volume")
      .withColumn("Adj Close", lit(null).cast("string"))
      .select("Date", "Open", "High", "Low", "Close", "Adj Close", "Volume"), "Date")
    val inNews = new File(dir, "in_news"); inNews.mkdirs()
    val inTicks = new File(dir, "in_ticks"); inTicks.mkdirs()
    m.backlogNewsFiles.zipWithIndex.foreach { case (docs, i) =>
      Files.writeString(new File(inNews, f"h$i%02d.json").toPath,
        docs.map { case (d, t) => Gen.newsJson(d, t) }.mkString("", "\n", "\n"))
    }
    Files.writeString(new File(inTicks, "close.json").toPath, Gen.tickJson(m.backlogDay, m.backlogClose) + "\n")
    St(dir, store, m)
  }

  override def teardown(ctx: Ctx, st: St): Unit = Main.deleteTree(st.dir)

  def run(ctx: Ctx, st: St): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tr
    val store = st.store
    val m = st.m
    val backlogEvents = m.backlogNewsFiles.map(_.size).sum + 1
    val drainMs, recomputeMs, scoreMs, computeMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val batchesPerDrain = scala.collection.mutable.ArrayBuffer.empty[Double]
    var iter = 0
    def news: DataFrame = store.read("news_master").select(col("Date"), col("Text"))
    def stock: DataFrame = store.read("stock_master").select(col("Date"),
      col("Open").cast("double"), col("High").cast("double"), col("Low").cast("double"),
      col("Close").cast("double"), col("Volume").cast("double"))
    def timed(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6 }
    val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

    def iteration(measured: Boolean): Unit = {
      iter += 1
      val cp = new File(st.dir, s"cp$iter")
      val op = tr.newOp()
      var queries = Seq.empty[StreamingQuery]
      drainMs += timed(tr.span("streaming", "drain", op) {
        queries = Seq(
          Ingest.startMasterAppend(
            SpeedLayer.parseStock(new FileStreamSource(new File(st.dir, "in_ticks").getPath).load(spark)),
            store, "stock_master", "Date", new File(cp, "stock").getPath, keyed = true,
            trigger = Trigger.AvailableNow()),
          Ingest.startMasterAppend(
            SpeedLayer.parseNews(new FileStreamSource(new File(st.dir, "in_news").getPath).load(spark)),
            store, "news_master", "Date", new File(cp, "news").getPath, keyed = false,
            trigger = Trigger.AvailableNow()))
        queries.foreach(_.awaitTermination())
      })
      val progress = queries.flatMap(q => q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch")).map(q -> _))
      batchesPerDrain += progress.size.toDouble
      progress.foreach { case (q, p) =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli
        tr.record("streaming", "batch", s"stream:${q.id}:${p.batchId}", s * 1000000L + nanoOffset,
          (s + p.durationMs.get("triggerExecution")) * 1000000L + nanoOffset,
          Map("batch_id" -> p.batchId.toDouble, "rows" -> p.numInputRows.toDouble))
      }
      recomputeMs += timed(tr.span("bench", "recompute", op) {
        val view = tr.span("batch", "run")(BatchPipeline.run(news, stock, m.today))
        store.overwrite("batch_view", view, "Date")
      })
      if (ctx.traced) {
        // per-layer splits, run to Spark's no-op sink
        scoreMs += timed(tr.span("functions", "score", op) {
          BatchPipeline.scoreNews(BatchPipeline.cleanNews(news)).write.format("noop").mode("overwrite").save()
        })
        computeMs += timed(tr.span("batch", "compute", op) {
          BatchPipeline.run(news, stock, m.today).write.format("noop").mode("overwrite").save()
        })
      }
      // back to the seeded master state
      Main.deleteTree(new File(store.dir("news_master"), s"Date=${m.backlogDay}"))
      Main.deleteTree(new File(store.dir("stock_master"), s"Date=${m.backlogDay}"))
      Main.deleteTree(cp)
      if (!measured) Seq(drainMs, recomputeMs, scoreMs, computeMs, batchesPerDrain).foreach(_.clear())
    }

    // unmeasured iterations warm the pipeline's code paths: the JIT is
    // still compiling them well after the first one
    (1 to WarmupIterations).foreach(_ => iteration(measured = false))
    ctx.beginWindow()
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var measuredIters = 0
    while (measuredIters == 0 || System.nanoTime() < end) { iteration(measured = true); measuredIters += 1 }

    val got = store.read("batch_view").collect().map { r =>
      r.getAs[Any]("Date").toString -> Model.Daily(r.getAs[Long]("Nbr_article"),
        r.getAs[Double]("Positive"), r.getAs[Double]("Negative"), r.getAs[Double]("Neutre"),
        r.getAs[Double]("Close"))
    }.toMap
    val errors = Model.checkBatchView(Model.batchView(m.allNews, m.stock, m.today), got)

    val layer = scala.collection.mutable.Map.empty[String, Double]
    if (ctx.traced) {
      val v = ctx.view()
      def med(xs: Seq[Double]) = Stats.medianOr(xs, 0.0)
      val drains = v.named("streaming", "drain")
      val batchSpans = v.spans.filter(s => s.layer == "streaming" && s.name == "batch")
      val ws = st.store.writes
      def w(kind: String) = Option(ws.get(kind))
      val files = Seq("overwrite", "append", "merge").flatMap(w).map(_.files.get).sum.toDouble
      val parts = Seq("overwrite", "append", "merge").flatMap(w).map(_.partitions.get).sum.toDouble
      val nDocs = m.allNews.size.toDouble
      layer ++= Seq(
        "ingest.drain_ms" -> med(drainMs.toSeq),
        "ingest.batches" -> Stats.mean(batchesPerDrain.toSeq),
        "ingest.jobs_per_batch" ->
          (if (batchSpans.isEmpty) 0.0 else drains.map(s => v.under(s.id).jobs).sum.toDouble / batchSpans.size),
        "functions.score_ms" -> med(scoreMs.toSeq),
        "functions.docs_per_s" -> (if (scoreMs.isEmpty) 0.0 else nDocs / (med(scoreMs.toSeq) / 1000)),
        "batch.compute_ms" -> med(computeMs.toSeq),
        "batch.jobs" -> Stats.mean(v.named("batch", "compute").map(s => v.under(s.id).jobs.toDouble)),
        "viewstore.overwrite_ms" ->
          math.max(0.0, med(v.durMs(v.named("viewstore", "overwrite"))) - med(computeMs.toSeq)),
        "viewstore.append_ms" -> med(v.durMs(v.named("viewstore", "append"))),
        "viewstore.merge_ms" -> med(v.durMs(v.named("viewstore", "merge"))),
        "viewstore.read_ms" -> med(v.durMs(v.named("viewstore", "read"))),
        "viewstore.files_written" -> files,
        "viewstore.bytes_written" -> Seq("overwrite", "append", "merge").flatMap(w).map(_.bytes.get).sum.toDouble,
        "viewstore.files_per_partition" -> (if (parts == 0) 0.0 else files / parts))
    }

    val eventsPerS = Stats.median(drainMs.toSeq.map(ms => backlogEvents / (ms / 1000)))
    val recompute = Stats.median(recomputeMs.toSeq)
    Outcome(attempted = measuredIters.toLong * backlogEvents + 1, failed = if (errors.isEmpty) 0 else 1,
      errors = errors, invalid = Nil, primary = recompute,
      named = Seq(("ingest_events_per_s", eventsPerS, "1/s"), ("batch_recompute_s", recompute / 1000, "s"),
        ("iterations", measuredIters.toDouble, "count"), ("docs", m.allNews.size.toDouble, "count")),
      layer = layer.toMap,
      samples = Map("recompute_ms" -> recomputeMs.toSeq, "drain_ms" -> drainMs.toSeq))
  }
}
