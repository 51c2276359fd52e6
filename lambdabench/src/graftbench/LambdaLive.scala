package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import graft.functions.SentimentFns
import graft.serving.{ArxForecaster, ServingJob}
import graft.sources.FileStreamSource
import graft.streaming.{Ingest, SpeedLayer}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.LongType
import scala.jdk.CollectionConverters._

/** Open loop over the speed and serving layers. A generator thread
  * publishes a news file every [[GenPeriodMs]] and a tick file every
  * [[TickEvery]] periods; the speed query (default trigger) folds them
  * into speed_view; the main thread requests a forecast every
  * [[ForecastPeriodMs]] from a 58-day batch_view range plus today's
  * speed row.
  */
final class LambdaLive extends Workload {
  val name = "lambda_live"

  val HistoryDays = 64
  val WindowDays = 58
  val GenPeriodMs = 100L
  val NewsPerFile = 10
  val TickEvery = 5
  val ForecastPeriodMs = 3000L
  val WarmupMs = 5000L
  val MaxReadAttempts = 5

  final case class St(dir: File, store: TimedViewStore)
  type State = St

  def today: String = Gen.day(HistoryDays)
  def yesterday: String = Gen.day(HistoryDays - 1)

  def setup(ctx: Ctx, dir: File): St = {
    val spark = ctx.spark
    import spark.implicits._
    val store = new TimedViewStore(spark, new File(dir, "views").getPath, ctx.tr, ctx.traced)
    val df = Gen.batchViewRows(ctx.seed, HistoryDays).map { case (d, c, n, p, ng, u) =>
      (d, c - 0.5, c + 1, c - 1.5, c, c * 1000, n, p, ng, u)
    }.toDF("Date", "Open", "High", "Low", "Close", "Volume", "Nbr_article", "Positive",
      "Negative", "Neutre")
    store.overwrite("batch_view", df, "Date")
    Seq("in_news", "in_ticks", "staging").foreach(d => new File(dir, d).mkdirs())
    St(dir, store)
  }

  override def teardown(ctx: Ctx, st: St): Unit = Main.deleteTree(st.dir)

  /** One published file: when it was due and published, the sequence
    * numbers and creation times of its news events.
    */
  final case class Pub(path: String, dueMs: Long, pubMs: Long, created: Seq[Long])

  def run(ctx: Ctx, st: St): Outcome = {
    implicit val spark: org.apache.spark.sql.SparkSession = ctx.spark
    val tr = ctx.tr
    val inNews = new File(st.dir, "in_news")
    val inTicks = new File(st.dir, "in_ticks")
    val staging = new File(st.dir, "staging")
    val live = new Gen.LiveStream(ctx.seed, today, yesterday)
    val model = new Model.SpeedModel
    val pubs = new ConcurrentLinkedQueue[Pub]()
    var seq = 0L
    var fileNo = 0

    // atomic publish: write under a staging name, then rename into the
    // watched directory, so the source never lists a half-written file
    def publish(dir: File, lines: Seq[String], dueMs: Long, created: Seq[Long]): Unit = {
      fileNo += 1
      val tmp = new File(staging, f"f$fileNo%06d.json")
      Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      val dst = new File(dir, f"f$fileNo%06d.json")
      Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      pubs.add(Pub(dst.getCanonicalPath, dueMs, System.currentTimeMillis(), created))
    }
    def publishTick(dueMs: Long): Unit = {
      val c = live.nextClose()
      model.tick(today, c)
      publish(inTicks, Seq(Gen.tickJson(today, c)), dueMs, Nil)
    }

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    val newsSchema = SpeedLayer.newsSchema.add("seq", LongType)
    val parsedNews = new FileStreamSource(inNews.getPath).load(spark)
      .selectExpr("CAST(value AS STRING) AS value")
      .select(from_json(col("value"), newsSchema).as("data")).select(col("data.*"))
      .na.drop(Seq("Date", "Text", "seq"))
    val scored = SentimentFns.withSentiment(parsedNews, "Text", "Positive", "Negative", "Neutre")
    val ticks = SpeedLayer.parseStock(new FileStreamSource(inTicks.getPath).load(spark))
    val deltas = SpeedLayer.newsDeltas(scored).union(SpeedLayer.stockDeltas(ticks))
    val checkpoint = new File(st.dir, "cp_speed")
    val q = Ingest.startSpeedView(SpeedLayer.mergeDeltas(deltas).toDF(), st.store, "speed_view",
      checkpoint.getPath, Trigger.ProcessingTime(0L))

    val t0 = System.currentTimeMillis()
    @volatile var stop = false
    val gen = new Thread(() => {
      var i = 0L
      while (!stop) {
        val due = t0 + i * GenPeriodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (!stop) {
          val now = System.currentTimeMillis()
          val evs = (0 until NewsPerFile).map { _ =>
            seq += 1
            val (d, text) = live.nextNews()
            model.news(d, text)
            (Gen.liveNewsJson(d, text, seq, now), now)
          }
          publish(inNews, evs.map(_._1), due, evs.map(_._2))
          if (i % TickEvery == 0) publishTick(due)
        }
        i += 1
      }
    }, "lambdabench-generator")
    gen.setDaemon(true)
    gen.start()

    // forecasts start once the first batch has committed a speed row;
    // the first WarmupMs of them, and of events, are not measured
    while (!progress.asScala.exists(_.durationMs.containsKey("addBatch"))) {
      if (System.currentTimeMillis() - t0 > 60000) sys.error("the speed query committed no batch in 60 s")
      Thread.sleep(20)
    }
    val f0 = System.currentTimeMillis()
    val warmEnd = f0 + WarmupMs
    val windowEnd = warmEnd + (ctx.seconds * 1000).toLong

    val forecaster = new TimedForecaster(new ArxForecaster(p = 2), tr)
    val lo = Gen.day(HistoryDays - WindowDays)
    val hi = yesterday
    var served = 0L
    var retries = 0L
    // The speed layer swaps today's speed_view partition on every batch
    // (delete, then rename), so a read can list a file that is gone by
    // the time it is opened, or find no file at all. The serving client
    // takes a snapshot of today's speed row first, retrying such a read
    // (the retries are counted), then forecasts from that snapshot.
    def vanished(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(t =>
        t.isInstanceOf[java.io.FileNotFoundException] || t.isInstanceOf[java.nio.file.NoSuchFileException] ||
          Option(t.getMessage).exists(m => m.contains("FAILED_READ_FILE.FILE_NOT_EXIST") ||
            m.contains("UNABLE_TO_INFER_SCHEMA") || m.contains("PATH_NOT_FOUND")))
    def speedRow(): Array[org.apache.spark.sql.Row] = {
      var attempt = 0
      var rows: Option[Array[org.apache.spark.sql.Row]] = None
      while (rows.isEmpty) {
        attempt += 1
        try {
          rows = Some(st.store.read("speed_view")
            .where(col("date") === lit(today) && col("close").isNotNull)
            .select(col("date").cast("string").as("d"), col("close").as("y"),
              col("nbrArticle").cast("double").as("n_articles"), col("positive").as("pos"))
            .collect())
        } catch {
          case e: Exception if attempt < MaxReadAttempts && vanished(e) => retries += 1
        }
      }
      rows.get
    }
    def forecast(): Unit = tr.span("bench", "forecast", tr.newOp()) {
      import spark.implicits._
      val speed = speedRow().toSeq
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toDF("d", "y", "n_articles", "pos")
      val hist = st.store.rangeScan("batch_view", "Date", lo, hi)
        .select(col("Date").cast("string").as("d"), col("Close").as("y"),
          col("Nbr_article").cast("double").as("n_articles"), col("Positive").as("pos"))
      val out = tr.span("serving", "run") {
        ServingJob.run(spark, hist.unionByName(speed), "d", "y", Seq("n_articles", "pos"),
          horizonDate = today, forecaster)
      }
      st.store.append("serving_view", out.withColumnRenamed("d", "Date"), "Date")
      served += 1
    }
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val startLate = scala.collection.mutable.ArrayBuffer.empty[Double]
    var forecastFailures = 0L
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // warm-up forecasts run back to back; the measured schedule starts
    // afresh at the end of the warm-up, so no warm-up lag carries into it
    while (System.currentTimeMillis() < warmEnd)
      try forecast() catch { case e: Exception => errors += s"forecast failed: $e" }
    ctx.beginWindow()
    val s0 = math.max(warmEnd, System.currentTimeMillis())
    val nForecasts = math.ceil(ctx.seconds * 1000 / ForecastPeriodMs).toLong
    var j = 0L
    while (j < nForecasts) {
      val due = s0 + j * ForecastPeriodMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val start = System.currentTimeMillis()
      try { forecast(); lat += (System.currentTimeMillis() - due).toDouble }
      catch { case e: Exception => errors += s"forecast failed: $e"; forecastFailures += 1 }
      startLate += (start - due).toDouble
      j += 1
    }
    val genLeft = windowEnd - System.currentTimeMillis()
    if (genLeft > 0) Thread.sleep(genLeft)
    stop = true
    gen.join()

    // drain, then a closing tick alone in its own batch fixes the last close
    q.processAllAvailable()
    publishTick(System.currentTimeMillis())
    q.processAllAvailable()
    q.stop()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(listener)

    // file -> batch from the source logs; batch -> end from progress
    val fileBatch: Map[String, Long] = Option(new File(checkpoint, "sources").listFiles())
      .getOrElse(Array.empty).toSeq.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => f.getName.matches("""\d+(\.compact)?"""))
      .flatMap(f => Files.readAllLines(f.toPath, java.nio.charset.StandardCharsets.ISO_8859_1).asScala.drop(1))
      .flatMap(l => LambdaLive.LogEntry.findFirstMatchIn(l).map(m =>
        new File(new java.net.URI(m.group(1))).getCanonicalPath -> m.group(2).toLong))
      .toMap
    val batches = progress.asScala.toSeq.filter(_.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).map { case (b, ps) => b -> ps.last }
    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    def endMs(p: StreamingQueryProgress) = startMs(p) + p.durationMs.get("triggerExecution")
    val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    batches.values.foreach { b =>
      tr.record("streaming", "batch", s"stream:${q.id}:${b.batchId}",
        startMs(b) * 1000000L + nanoOffset, endMs(b) * 1000000L + nanoOffset,
        Map("batch_id" -> b.batchId.toDouble, "rows" -> b.numInputRows.toDouble))
    }
    val allPubs = pubs.asScala.toSeq
    var lostEvents = 0L
    val eventLat = allPubs.flatMap { p =>
      val inWindow = p.created.filter(c => c >= warmEnd && c < windowEnd)
      fileBatch.get(p.path).flatMap(batches.get) match {
        case Some(b) => inWindow.map(c => (endMs(b) - c).toDouble)
        case None => lostEvents += inWindow.size; Nil
      }
    }
    if (lostEvents > 0) errors += s"$lostEvents events never reached a committed batch"

    // validity of the open loop
    val invalid = scala.collection.mutable.ArrayBuffer.empty[String]
    val genLate = allPubs.filter(_.dueMs >= warmEnd).map(p => (p.pubMs - p.dueMs).toDouble)
    if (Stats.fellBehind(genLate, GenPeriodMs.toDouble))
      invalid += s"generator fell behind its schedule: lateness ${genLate.mkString(",")}"
    if (Stats.fellBehind(startLate.toSeq, ForecastPeriodMs.toDouble))
      invalid += s"forecasts fell behind their schedule: start lateness ${startLate.mkString(",")}"
    val windowBatches = batches.values.toSeq.filter(b => startMs(b) >= warmEnd && startMs(b) < windowEnd)
      .sortBy(_.batchId)
    val backlog = windowBatches.map { b =>
      allPubs.count(p => p.pubMs <= startMs(b) && fileBatch.get(p.path).forall(_ >= b.batchId)).toDouble
    }
    // slack: the files half a second of publishing adds
    if (Stats.grew(backlog, 6))
      invalid += s"backlog grew: ${backlog.mkString(",")}"
    if (eventLat.isEmpty) invalid += "no events in the window"
    if (lat.isEmpty) invalid += "no forecasts in the window"

    // output checks
    val got = st.store.read("speed_view").collect().map { r =>
      r.getAs[Any]("date").toString -> Model.Speed(r.getAs[Long]("nbrArticle"),
        Option(r.getAs[java.lang.Double]("close")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("positive")).map(_.doubleValue))
    }.toMap
    val speedErrs = Model.checkSpeedView(model.snapshot, got)
    val preds = st.store.read("serving_view").collect().map(_.getAs[Double]("y_pred"))
    val servingErrs =
      Option.when(preds.length != served)(s"serving_view has ${preds.length} rows, want $served").toSeq ++
      Option.when(preds.exists(p => p.isNaN || p.isInfinite))("serving_view holds a non-finite forecast")
    errors ++= speedErrs ++ servingErrs

    // a forecast taken before today's first speed row sees one row fewer
    val shortHistory = forecaster.historyRows.asScala.count(_ < WindowDays + 1).toDouble
    val layer = scala.collection.mutable.Map.empty[String, Double]
    if (ctx.traced) {
      val v = ctx.view()
      def med(xs: Seq[Double]) = Stats.medianOr(xs, 0.0)
      def dur(p: StreamingQueryProgress, ks: String*) =
        ks.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
      val fSpans = v.named("bench", "forecast")
      val fJobs = fSpans.map(s => v.under(s.id))
      val batchSpans = v.spans.filter(s => s.layer == "streaming" && s.name == "batch")
      val vs = st.store.writes.asScala
      val files = vs.values.map(_.files.get).sum.toDouble
      val parts = vs.values.map(_.partitions.get).sum.toDouble
      layer ++= Seq(
        "streaming.batches" -> windowBatches.size.toDouble,
        "streaming.batch_p50_ms" -> med(windowBatches.map(dur(_, "triggerExecution"))),
        "streaming.sink_ms" -> med(windowBatches.map(dur(_, "addBatch"))),
        "streaming.planning_ms" -> med(windowBatches.map(dur(_, "queryPlanning"))),
        "streaming.offset_ms" -> med(windowBatches.map(dur(_, "latestOffset", "walCommit", "commitOffsets"))),
        "streaming.rows_per_batch" -> med(windowBatches.map(_.numInputRows.toDouble)),
        "streaming.state_rows" -> windowBatches.lastOption.flatMap(_.stateOperators.headOption)
          .map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.jobs_per_batch" -> Stats.mean(batchSpans.map(s => v.under(s.id).jobs.toDouble)),
        "streaming.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
        "generator.late_p50_ms" -> med(genLate),
        "generator.late_max_ms" -> (if (genLate.isEmpty) 0.0 else genLate.max),
        "viewstore.merge_ms" -> med(v.durMs(v.named("viewstore", "merge"))),
        "viewstore.append_ms" -> med(v.durMs(v.named("viewstore", "append"))),
        "viewstore.read_ms" -> med(v.durMs(v.spans.filter(s => s.layer == "viewstore" &&
          (s.name == "rangeScan" || s.name == "read") && !v.spans.exists(p => p.id == s.parent && p.layer == "viewstore")))),
        "viewstore.files_written" -> files,
        "viewstore.bytes_written" -> vs.values.map(_.bytes.get).sum.toDouble,
        "viewstore.files_per_partition" -> (if (parts == 0) 0.0 else files / parts),
        "serving.forecast_ms" -> med(v.durMs(v.named("serving", "run"))),
        "serving.fit_us" -> med(forecaster.fitNs.asScala.toSeq.map(_ / 1e3)),
        "serving.jobs_per_forecast" -> Stats.mean(fJobs.map(_.jobs.toDouble)),
        "serving.read_retries" -> retries.toDouble,
        "serving.short_history" -> shortHistory,
        "serving.rows_read_per_row_used" ->
          (if (fJobs.isEmpty) 0.0 else fJobs.map(_.inRecords).sum.toDouble / (fJobs.size * (WindowDays + 1))))
    }

    val e2v50 = Stats.medianOr(eventLat, 0.0)
    val f50 = Stats.medianOr(lat.toSeq, 0.0)
    val named = Seq(("event_to_view_p50_ms", e2v50, "ms")) ++
      Stats.percentile(eventLat, 0.95).map(x => ("event_to_view_p95_ms", x, "ms")) ++
      Seq(("forecast_p50_ms", f50, "ms")) ++
      Stats.percentile(lat.toSeq, 0.90).map(x => ("forecast_p90_ms", x, "ms")) ++
      Seq(("events", eventLat.size.toDouble + lostEvents, "count"),
        ("forecasts", lat.size.toDouble + forecastFailures, "count"),
        ("batches", windowBatches.size.toDouble, "count"),
        ("forecast_read_retries", retries.toDouble, "count"),
        ("forecasts_short_history", shortHistory, "count"))
    Outcome(attempted = eventLat.size + lostEvents + lat.size + forecastFailures + 2,
      failed = lostEvents + forecastFailures + Seq(speedErrs, servingErrs).count(_.nonEmpty),
      errors = errors.toSeq, invalid = invalid.toSeq, primary = e2v50,
      named = named, layer = layer.toMap,
      samples = Map("forecast_ms" -> lat.toSeq, "forecast_start_late_ms" -> startLate.toSeq,
        "batch_ms" -> windowBatches.map(_.durationMs.get("triggerExecution").doubleValue)))
  }
}

object LambdaLive {
  /** One entry of a file source's log: the file's URI and its batch. */
  val LogEntry = """"path":"([^"]+)".*"batchId":(\d+)""".r
}
