package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The engine's session confs, kept in one map: [[Session]] applies
  * `Confs` at build time and `install` applies them on a session built
  * some other way, so the two paths cannot drift apart. The engine's own
  * rules and strategies are not here: [[graft.plans.GraftExtensions]]
  * is their only registration.
  *
  * `InferFiltersFromGenerate` is excluded: it clones a Generate's
  * generator expression into inferred `isnotnull` + `size > 0` filters,
  * and predicate pushdown clones those again into the scan's data
  * filters. For this engine's text operators the generator inputs are
  * higher-order-function chains (tokenize → shingle → distinct), which
  * are CodegenFallback — always interpreted — so each clone re-runs the
  * interpreted lambda chain per input row (measured 16.0 s → 4.8 s on
  * the q68 corpus explode at sf0.1 from the exclusion alone; staging
  * the array gets the remaining 4.8 → 0.7 s). The rule is semantically
  * redundant for inner explode — the Generate itself drops null/empty
  * arrays — so excluding it never changes results, only removes the
  * duplicated evaluation.
  *
  * Structured Streaming checkpoints write through the `FileSystem` API
  * (`FileSystemBasedCheckpointFileManager`). `CheckpointFileManager.create`
  * reads the class from the session's Hadoop conf, which copies the SQL
  * confs, so the one setting covers every checkpoint writer: the offset
  * and commit logs, each file source's `sources/N` log, the HDFS-backed
  * state store's delta and snapshot files and RocksDB's checkpoint
  * uploads. Spark's default resolves `file://` through `FileContext` to
  * Hadoop's `LocalFs`, a checksummed stock `RawLocalFileSystem` rather
  * than the process's [[graft.sources.FastLocalFileSystem]]: without
  * the native Hadoop library it forks shell commands (`chmod` among
  * them) for its permission and link-status calls, and it writes a
  * `.crc` sidecar for each file. Measured on a 4-core host (400 writes
  * a side), one `createAtomic` + `close` costs 24-28 ms that way, with
  * at least eight child processes per write, and 0.2-0.4 ms with none
  * through the `FileSystem` API. A micro-batch makes several such
  * writes (offset entry, commit entry, one state delta per shuffle
  * partition).
  *
  * Safety: the FileSystem-based manager writes a temp file and renames
  * it into place, and on a local disk `rename(2)` is atomic, so a reader
  * never sees a partial entry. The one guarantee it drops is
  * `FileContext`'s rename-without-overwrite between two concurrent
  * writers of the same checkpoint; Spark already refuses a second active
  * run of one query. Checkpoints written under the default manager
  * (with their `.crc` sidecars) read back unchanged. Spark's own
  * checksums of state-store files (`<version>.delta.crc`,
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled`) are data, not
  * Hadoop sidecars: they stay, written through the same manager.
  */
object Tuning {

  val ExcludedRules =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  val Confs: Map[String, String] = Map(
    "spark.sql.optimizer.excludedRules" -> ExcludedRules,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[FileSystemBasedCheckpointFileManager].getName)

  def install(spark: SparkSession): Unit =
    Confs.foreach { case (k, v) => spark.conf.set(k, v) }
}
