package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{DatasetBridge, ViewScanBridge}

/** Parquet-backed keyed view tables replacing the reference's
  * Elasticsearch indexes (SURVEY §1.4, §2.2). Views are partitioned by
  * the key column (`Date` in the pipeline) so range scans
  * partition-prune — the Catalyst-native replacement for the
  * reference's server-side `es.query` range pushdown
  * (prediction.py:37-47).
  *
  * Write semantics map the four reference sinks:
  *   - overwrite  -> K3 (batch_view daily recompute)
  *   - append     -> K1 (master append; id-less)
  *   - appendKeyed-> K4 (append + last-write-wins per key on read)
  *   - merge      -> K2 (upsert: replace only the touched partitions) —
  *     idempotent under micro-batch replay, the exactly-once half of
  *     at-least-once delivery + idempotent sink (SURVEY §2.9 T6)
  *
  * Reads cost no Spark job. `spark.read.parquet` would pay two before
  * any row is read: a listing job once a view holds more than 32 key
  * dirs (one task per dir), and a footer job for schema inference. A
  * view is exactly one level of `key=value` dirs, so [[read]] lists it
  * on the driver (the root, then each key dir) and reads one footer
  * there; partition inference, pruning and refresh stay Spark's.
  */
class ViewStore(spark: SparkSession, root: String) {

  private def path(view: String) = s"$root/$view"

  /** Cluster rows by the partition column before a partitionBy write —
    * Iceberg's `write.distribution-mode=hash` (guide §6): without it
    * every input partition opens a file in every key directory
    * (input-width × key-count small files; a wide upstream compute
    * stage multiplies the store's file count), with it each key
    * directory gets its hash bucket's single file whatever the
    * upstream width. The shuffle moves exactly the written bytes once.
    */
  private def clustered(df: DataFrame, keyCol: String): DataFrame =
    df.repartition(col(keyCol))

  /** K3: full rewrite, partitioned by key. */
  def overwrite(view: String, df: DataFrame, keyCol: String): Unit =
    clustered(df, keyCol).write.mode(SaveMode.Overwrite)
      .partitionBy(keyCol).parquet(path(view))

  /** K1: append-only master (no key identity). */
  def append(view: String, df: DataFrame, keyCol: String): Unit =
    clustered(df, keyCol).write.mode(SaveMode.Append)
      .partitionBy(keyCol).parquet(path(view))

  /** K2: upsert — replace only the key partitions present in `df`
    * (dynamic partition overwrite: no other partition is touched, so
    * concurrent days don't clobber each other and replays are
    * idempotent).
    */
  def merge(view: String, df: DataFrame, keyCol: String): Unit =
    clustered(df, keyCol).write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(keyCol)
      .parquet(path(view))

  /** Read a view as `spark.read.parquet` reads its dir — same schema,
    * rows and partition pruning — but planned with zero jobs: the
    * driver-side listing goes to Spark's own `InMemoryFileIndex` through
    * a pre-filled [[ListedRoot]], and the data schema comes from one
    * footer read on the driver. Every call re-lists, so a read always
    * sees the latest write. A missing view, or one with no data file,
    * falls through to `spark.read.parquet` and its errors
    * (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`).
    */
  def read(view: String): DataFrame = {
    val p = path(view)
    listing(p).flatMap { case (dir, files) =>
      ViewScanBridge.footerSchema(spark, files).map { dataSchema =>
        val options = Map("path" -> p)
        val index = new InMemoryFileIndex(spark, Seq(dir), options, None,
          new ListedRoot(dir, files.toArray))
        DatasetBridge.ofRows(spark, LogicalRelation(HadoopFsRelation(index,
          index.partitionSchema, dataSchema, None, new ParquetFileFormat, options)(spark)))
      }
    }.getOrElse(spark.read.parquet(p))
  }

  /** The qualified view dir and its data files: the visible key dirs'
    * visible files, names skipped as Spark's listing skips them (no
    * files for a missing dir). `None` for any other shape than one
    * level of dirs.
    */
  private def listing(p: String): Option[(Path, Seq[FileStatus])] = {
    val fs = new Path(p).getFileSystem(ViewScanBridge.hadoopConf(spark))
    val dir = fs.makeQualified(new Path(p))
    def visible(st: Seq[FileStatus]) = st.filterNot(s => ViewScanBridge.hidden(s.getPath.getName))
    val keyDirs = visible(try fs.listStatus(dir).toSeq catch { case _: FileNotFoundException => Nil })
    if (!keyDirs.forall(_.isDirectory)) None
    else {
      val files = keyDirs.flatMap(d => visible(fs.listStatus(d.getPath).toSeq))
      // block locations attached as Spark's listing attaches them: this
      // constructor skips the per-file permission lookup that
      // `listLocatedStatus` pays (a subprocess per file on the local
      // filesystem, ~3.5 ms each)
      if (files.exists(_.isDirectory)) None
      else Some(dir -> files.map(f => new LocatedFileStatus(f.getLen, false, f.getReplication,
        f.getBlockSize, f.getModificationTime, 0, null, null, null, null, f.getPath,
        fs.getFileBlockLocations(f, 0, f.getLen))))
    }
  }

  /** S3: range scan with partition pruning on the key. */
  def rangeScan(view: String, keyCol: String, lo: String, hi: String): DataFrame =
    read(view).where(col(keyCol).between(lo, hi))

  /** K4 read side: latest row per key by `seqCol`. */
  def latestPerKey(view: String, keyCol: String, seqCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(seqCol).desc)
    read(view).withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
  }
}

/** A `FileStatusCache` pre-filled with one root's listing: the
  * `InMemoryFileIndex` built over it takes the listing instead of
  * listing itself. `invalidateAll` (the index's `refresh()`,
  * `refreshByPath`) drops it, so a refresh re-lists for real.
  */
private final class ListedRoot(root: Path, files: Array[FileStatus]) extends FileStatusCache {
  @volatile private var listed: Option[Array[FileStatus]] = Some(files)
  override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
    if (path == root) listed else None
  override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
  override def invalidateAll(): Unit = listed = None
}
