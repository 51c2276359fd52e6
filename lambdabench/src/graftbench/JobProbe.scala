package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Spark-side counters per attribution key, read from the scheduler's
  * own listener events. A job's key is the benchmark span open on the
  * submitting thread (`graftbench.span` local property); a streaming
  * job outside any benchmark span is keyed by its query and batch id.
  */
final class JobProbe extends SparkListener {

  import JobProbe.Acc


  private val byKey = new ConcurrentHashMap[String, Acc]()
  private val stageKey = new ConcurrentHashMap[Int, String]()

  private def acc(k: String): Acc = byKey.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val key = p.flatMap(x => Option(x.getProperty(JobProbe.SpanProp))).map("span:" + _)
      .orElse(p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")).map(q =>
        s"stream:$q:${Option(x.getProperty("streaming.sql.batchId")).getOrElse("?")}")))
      .getOrElse("none")
    e.stageIds.foreach(s => stageKey.put(s, key))
    val a = acc(key)
    a.synchronized { a.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val a = acc(k); a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (k <- Option(stageKey.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val a = acc(k)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.inRecords += m.inputMetrics.recordsRead
      }
    }

  /** Counters per key, after every event posted so far has arrived. */
  def snapshot(sc: SparkContext): Map[String, Acc] = {
    org.apache.spark.BenchBus.drain(sc)
    byKey.asScala.toMap
  }

  def reset(sc: SparkContext): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    byKey.clear(); stageKey.clear()
  }
}

object JobProbe {
  val SpanProp = "graftbench.span"

  /** Scheduler counters of one attribution key. */
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufW = 0L; var shufR = 0L; var inRecords = 0L
    def add(o: Acc): Acc = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; shufW += o.shufW; shufR += o.shufR
      inRecords += o.inRecords; this
    }
  }

  /** The per-job floor: median wall time of a trivial one-task job. */
  def jobFloorMs(sc: SparkContext, reps: Int = 30): Double = {
    val one = sc.parallelize(Seq(1), 1)
    (0 until 5).foreach(_ => one.count())
    Stats.median((0 until reps).map { _ =>
      val t = System.nanoTime(); one.count(); (System.nanoTime() - t) / 1e6
    })
  }
}
