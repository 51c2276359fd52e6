package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import graft.serving.Forecaster
import graft.sources.ViewStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Heap the run still holds at the end of its measured window: used
  * heap right after a full collection, so garbage and the collector's
  * timing do not enter the figure. The first collection lets Spark's
  * context cleaner release what only it still references (broadcast
  * blocks, shuffle state); the second measures what remains.
  */
object Heap {
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Per write kind: files and bytes written, partitions touched. */
final class WriteStats {
  val files, bytes, partitions = new java.util.concurrent.atomic.AtomicLong()
}

/** The program's ViewStore, timed from outside: each override opens a
  * `viewstore` span around `super`. With `countFiles` it also lists the
  * view directory before and after each write to count what the write
  * added.
  */
final class TimedViewStore(spark: SparkSession, root: String, tr: Tracer, countFiles: Boolean)
    extends ViewStore(spark, root) {

  val writes = new ConcurrentHashMap[String, WriteStats]()

  def dir(view: String): File = new File(root, view)

  private def dataFiles(dir: File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
      .map(p => p.toString -> java.nio.file.Files.size(p)).toMap

  private def write(kind: String, view: String)(body: => Unit): Unit =
    tr.span("viewstore", kind) {
      val before = if (countFiles) dataFiles(dir(view)) else Map.empty[String, Long]
      body
      if (countFiles) {
        val st = writes.computeIfAbsent(kind, _ => new WriteStats)
        val added = dataFiles(dir(view)).filter { case (p, _) => !before.contains(p) }
        st.files.addAndGet(added.size.toLong)
        st.bytes.addAndGet(added.values.sum)
        st.partitions.addAndGet(added.keys.map(p => new File(p).getParent).toSet.size.toLong)
      }
    }

  override def overwrite(view: String, df: DataFrame, keyCol: String): Unit =
    write("overwrite", view)(super.overwrite(view, df, keyCol))
  override def append(view: String, df: DataFrame, keyCol: String): Unit =
    write("append", view)(super.append(view, df, keyCol))
  override def merge(view: String, df: DataFrame, keyCol: String): Unit =
    write("merge", view)(super.merge(view, df, keyCol))
  override def read(view: String): DataFrame =
    tr.span("viewstore", "read")(super.read(view))
  override def rangeScan(view: String, keyCol: String, lo: String, hi: String): DataFrame =
    tr.span("viewstore", "rangeScan")(super.rangeScan(view, keyCol, lo, hi))
}

/** A forecaster whose fit is its own `serving` span. */
final class TimedForecaster(inner: Forecaster, tr: Tracer) extends Forecaster {
  val fitNs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val historyRows = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
  override def predictNext(y: Array[Double], exog: Array[Array[Double]]): Double = {
    historyRows.add(y.length)
    val t = System.nanoTime()
    try tr.span("serving", "fit")(inner.predictNext(y, exog))
    finally fitNs.add(System.nanoTime() - t)
  }
}
