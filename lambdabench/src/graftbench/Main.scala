package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What one workload run produced. `named` holds the workload's metrics
  * under their descriptive names (printed for people); `primary` is the
  * one of them the result line reports as `primary_ms`; `layer` holds
  * per-layer figures; `samples` the raw timings behind the medians.
  */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
                         invalid: Seq[String], primary: Double,
                         named: Seq[(String, Double, String)], layer: Map[String, Double],
                         samples: Map[String, Seq[Double]] = Map.empty)

/** Everything a workload needs: the session, the tracer, the probe and
  * its scratch space.
  */
final class Ctx(val spark: SparkSession, val tr: Tracer, val probe: Option[JobProbe],
                val work: File, val seed: Long, val seconds: Double) {
  def traced: Boolean = tr.enabled
  @volatile var windowStart: Long = 0L

  /** Starts the measured window: counters restart,
    * and only spans opened from here on count. A workload with a
    * warm-up calls it again when the warm-up ends.
    */
  def beginWindow(): Unit = {
    probe.foreach(_.reset(spark.sparkContext))
    windowStart = System.nanoTime()
  }

  /** Spans and Spark counters of the measured window. */
  def view(): JobView = {
    val spans = Trace.adoptStreamOrphans(tr.spans.filter(_.start >= windowStart))
    JobView(spans, probe.map(_.snapshot(spark.sparkContext)).getOrElse(Map.empty), tr.recordedKeys)
  }
}

/** Spans joined with the Spark jobs attributed to them. */
final case class JobView(spans: Seq[Span], probe: Map[String, JobProbe.Acc],
                         recorded: Map[String, Long]) {
  private val own: Map[Long, JobProbe.Acc] = probe.toSeq.flatMap {
    case (k, a) if k.startsWith("span:") => Some(k.drop(5).toLong -> a)
    case (k, a) => recorded.get(k).map(_ -> a)
  }.groupBy(_._1).map { case (id, as) => id -> as.map(_._2).foldLeft(new JobProbe.Acc)(_ add _) }
  private val kids = spans.groupBy(_.parent)

  /** Counters of a span and everything under it. */
  def under(id: Long): JobProbe.Acc =
    kids.getOrElse(id, Nil).map(c => under(c.id))
      .foldLeft(new JobProbe.Acc().add(own.getOrElse(id, new JobProbe.Acc)))(_ add _)

  def total: JobProbe.Acc = probe.values.foldLeft(new JobProbe.Acc)(_ add _)

  def named(layer: String, name: String): Seq[Span] =
    spans.filter(s => s.layer == layer && s.name == name)

  def durMs(ss: Seq[Span]): Seq[Double] = ss.map(_.durNs / 1e6)
}

trait Workload {
  type State
  def name: String
  def setup(ctx: Ctx, dir: File): State
  def run(ctx: Ctx, st: State): Outcome
  def teardown(ctx: Ctx, st: State): Unit = ()
}

object Metrics {
  /** (name, unit) of every metric the result line carries. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "primary_ms" -> "ms", "heap_live_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.job_floor_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.jobs_x_floor_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.batch_p50_ms" -> "ms", "streaming.sink_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.offset_ms" -> "ms",
    "streaming.rows_per_batch" -> "count", "streaming.state_rows" -> "count",
    "streaming.jobs_per_batch" -> "count", "streaming.backlog_files_max" -> "count",
    "generator.late_p50_ms" -> "ms", "generator.late_max_ms" -> "ms",
    "ingest.drain_ms" -> "ms", "ingest.batches" -> "count", "ingest.jobs_per_batch" -> "count",
    "functions.score_ms" -> "ms", "functions.docs_per_s" -> "1/s",
    "batch.compute_ms" -> "ms", "batch.jobs" -> "count",
    "viewstore.merge_ms" -> "ms", "viewstore.overwrite_ms" -> "ms", "viewstore.append_ms" -> "ms",
    "viewstore.read_ms" -> "ms", "viewstore.files_written" -> "count",
    "viewstore.bytes_written" -> "bytes", "viewstore.files_per_partition" -> "ratio",
    "serving.forecast_ms" -> "ms", "serving.fit_us" -> "us", "serving.jobs_per_forecast" -> "count",
    "serving.read_retries" -> "count", "serving.short_history" -> "count",
    "serving.rows_read_per_row_used" -> "ratio",
    "sql.parse_ms" -> "ms", "sql.exec_ms" -> "ms",
    "store.jobs_per_insert" -> "count", "store.jobs_per_delete" -> "count",
    "store.jobs_per_merge" -> "count", "store.jobs_per_refresh" -> "count",
    "store.files_per_commit" -> "count", "store.bytes_per_commit" -> "bytes",
    "store.space_amp" -> "ratio", "mv.incremental_ratio" -> "ratio",
    "self.bench_ms" -> "ms", "self.streaming_ms" -> "ms", "self.functions_ms" -> "ms",
    "self.batch_ms" -> "ms", "self.serving_ms" -> "ms", "self.viewstore_ms" -> "ms",
    "self.snapshotstore_ms" -> "ms", "self.plans_ms" -> "ms",
    "trace.spans" -> "count", "trace.overhead_ms" -> "ms", "trace.primary_ms" -> "ms",
    "error_rate" -> "ratio")
}

object Main {

  val Workloads: Map[String, () => Workload] = Map(
    "lambda_live" -> (() => new LambdaLive),
    "batch_daily" -> (() => new BatchDaily),
    "store_commits" -> (() => new StoreCommits))

  val Setups = 3

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def session(cores: Int, work: File): (SparkSession, Seq[(String, String)]) = {
    val conf = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> new File(work, "spark-local").getPath,
      "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath)
    val b = SparkSession.builder().withExtensions(new graft.plans.GraftExtensions)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tuning.install(spark)
    val jvm = Seq("spark.hadoop.fs.file.impl",
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version")
      .map(k => k -> sys.props.getOrElse(k, "(unset)"))
    (spark, conf ++ jvm :+ ("spark.sql.optimizer.excludedRules" -> graft.Tuning.ExcludedRules))
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  def main(args: Array[String]): Unit = {
    val wname = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = new File(arg(args, "--work").getOrElse(sys.error("--work is required")))
    val traceOut = arg(args, "--trace-out")
    val wl = Workloads.getOrElse(wname, () => sys.error(s"unknown workload $wname"))()

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val (spark, settings) = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val probe = if (traced) Some(new JobProbe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    val sc = spark.sparkContext
    val tr = tracer(sc, traced)
    val ctx = new Ctx(spark, tr, probe, work, seed, seconds)
    val floorMs = if (traced) JobProbe.jobFloorMs(sc) else 0.0

    // set up several times in fresh directories; keep the last state
    var state: Option[wl.State] = None
    val setupS = (1 to Setups).map { i =>
      state.foreach(s => wl.teardown(ctx, s))
      val t = System.nanoTime()
      state = Some(wl.setup(ctx, new File(work, s"$wname-$i")))
      (System.nanoTime() - t) / 1e9
    }

    System.gc()
    ctx.beginWindow()
    val runStart = System.nanoTime()
    val out = wl.run(ctx, state.get)
    val runS = (System.nanoTime() - runStart) / 1e9
    val heapMb = Heap.liveMb()
    val view = ctx.view()
    wl.teardown(ctx, state.get)

    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      val tot = view.total
      layer ++= Seq(
        "spark.job_floor_ms" -> floorMs, "spark.jobs" -> tot.jobs.toDouble,
        "spark.stages" -> tot.stages.toDouble, "spark.tasks" -> tot.tasks.toDouble,
        "spark.executor_run_ms" -> tot.runMs.toDouble, "spark.executor_cpu_ms" -> tot.cpuNs / 1e6,
        "spark.gc_ms" -> tot.gcMs.toDouble, "spark.shuffle_write_bytes" -> tot.shufW.toDouble,
        "spark.shuffle_read_bytes" -> tot.shufR.toDouble,
        "spark.jobs_x_floor_ms" -> tot.jobs * floorMs)
      val self = Trace.layerSelfMs(view.spans)
      Seq("bench", "streaming", "functions", "batch", "serving", "viewstore", "snapshotstore", "plans")
        .foreach(l => layer(s"self.${l}_ms") = self.getOrElse(l, 0.0))
      layer("trace.spans") = view.spans.size.toDouble
      layer("trace.overhead_ms") = view.spans.size * spanCostNs(sc) / 1e6
      // the end-to-end figure under tracing: minus an untraced run's, the
      // whole tracing overhead (listener, file counting, spans)
      layer("trace.primary_ms") = out.primary
      layer ++= out.layer
      layer("error_rate") = if (out.attempted == 0) 0.0 else out.failed.toDouble / out.attempted
      traceOut.foreach { p =>
        val withJobs = view.spans.map { s =>
          val a = view.under(s.id)
          s.copy(attrs = s.attrs ++ Map("jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble,
            "tasks" -> a.tasks.toDouble, "executor_run_ms" -> a.runMs.toDouble,
            "executor_cpu_ms" -> a.cpuNs / 1e6, "gc_ms" -> a.gcMs.toDouble,
            "shuffle_write_bytes" -> a.shufW.toDouble, "shuffle_read_bytes" -> a.shufR.toDouble,
            "jobs_x_floor_ms" -> a.jobs * floorMs))
        }
        val f = new File(p)
        Option(f.getParentFile).foreach(_.mkdirs())
        java.nio.file.Files.writeString(f.toPath, Trace.toJson(withJobs, ctx.windowStart))
      }
    }

    val correct = out.errors.isEmpty && out.invalid.isEmpty
    (out.errors ++ out.invalid).foreach(e => System.err.println(s"[lambdabench] $e"))
    val named = out.named :+ ("setup_s", Stats.median(setupS), "s") :+ ("heap_live_mb", heapMb, "MB")
    println(Json.obj(Seq("workload" -> Json.str(wname), "seed" -> Json.num(seed.toDouble),
      "valid" -> out.invalid.isEmpty.toString,
      "invalid" -> out.invalid.map(Json.str).mkString("[", ", ", "]"),
      "settings" -> Json.obj(settings.map { case (k, v) => k -> Json.str(v) }),
      "setup_runs_s" -> setupS.map(Json.num).mkString("[", ", ", "]"),
      "phases_s" -> Json.obj(Seq("jvm_and_session" -> Json.num(sessionS),
        "setups" -> Json.num(setupS.sum), "run" -> Json.num(runS))),
      "samples" -> Json.obj(out.samples.toSeq.sortBy(_._1).map { case (k, xs) =>
        k -> xs.map(Json.num).mkString("[", ", ", "]") }),
      "named" -> Json.obj(named.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    val values: Map[String, Double] =
      if (traced) Metrics.PerLayer.map { case (k, _) => k -> layer.getOrElse(k, 0.0) }.toMap
      else Map("setup_s" -> Stats.median(setupS), "primary_ms" -> out.primary,
        "heap_live_mb" -> heapMb)
    val units = (if (traced) Metrics.PerLayer else Metrics.EndToEnd)
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(out.attempted.toDouble),
      "failed" -> Json.num(out.failed.toDouble),
      "metrics" -> Json.obj(units.map { case (k, u) =>
        k -> Json.obj(Seq("value" -> Json.num(values(k)), "unit" -> Json.str(u))) }))))
    System.out.flush()
    spark.stop()
  }

  /** A tracer whose open span tags the Spark jobs its thread submits. */
  def tracer(sc: org.apache.spark.SparkContext, enabled: Boolean): Tracer =
    new Tracer(enabled,
      id => sc.setLocalProperty(JobProbe.SpanProp, id.toString),
      outer => sc.setLocalProperty(JobProbe.SpanProp, outer.map(_.toString).orNull))

  /** Cost of opening and closing one empty span, in ns. */
  private def spanCostNs(sc: org.apache.spark.SparkContext): Double = {
    val t = tracer(sc, enabled = true)
    def perSpan(n: Int) = {
      val s = System.nanoTime()
      (0 until n).foreach(_ => t.span("bench", "probe")(()))
      (System.nanoTime() - s).toDouble / n
    }
    perSpan(20000)
    Stats.median((0 until 5).map(_ => perSpan(20000)))
  }
}
