package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tuning}
import graft.model._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Structured Streaming checkpoints write through the `FileSystem` API
  * ([[graft.Tuning]]): the offset, commit, source and state-store files
  * of a micro-batch carry no Hadoop `.crc` sidecar and the modes a plain write
  * leaves, and a checkpoint written by Spark's default `FileContext`
  * manager restarts under it without a replay or a skipped batch.
  */
class CheckpointFsSpec extends SparkSpec {

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def tree(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala.toSeq

  /** Hadoop checksum sidecars (`.<name>.crc`). Spark's own checkpoint
    * file checksums (`<version>.delta.crc`, `<version>.zip.crc`, from
    * `spark.sql.streaming.checkpoint.fileChecksum.enabled`) are not
    * among them: they are data the state store verifies on load.
    */
  private def crcs(root: String): Seq[Path] = tree(root).filter { p =>
    val n = p.getFileName.toString
    n.startsWith(".") && n.endsWith(".crc")
  }

  private def manager(s: SparkSession, cp: String): CheckpointFileManager =
    CheckpointFileManager.create(new HPath(cp), s.sessionState.newHadoopConf())

  private def sent(d: String, seq: Long, p: Double) =
    SpeedDelta(d, seq, None, Some(SentimentScore(p, 0.1, 0.2)))
  private def tick(d: String, close: Double) =
    SpeedDelta(d, 0L, Some(Tick(d, None, None, None, Some(close), None, None)), None)

  /** Four input files of one or two days each; the stream reads one per
    * trigger.
    */
  private val files: Seq[Seq[SpeedDelta]] = Seq(
    Seq(tick("2026-08-10", 50.0), sent("2026-08-10", 1, 0.8)),
    Seq(sent("2026-08-10", 2, 0.4), sent("2026-08-11", 1, 0.6)),
    Seq(tick("2026-08-11", 51.0), sent("2026-08-10", 3, 0.2)),
    Seq(sent("2026-08-11", 2, 0.9), tick("2026-08-10", 52.0)))

  private def json(d: SpeedDelta): String = {
    val tickJson = d.tick.fold("null")(t => s"""{"date":"${t.date}","close":${t.close.get}}""")
    val sentJson = d.sentiment.fold("null")(s =>
      s"""{"pos":${s.pos},"neg":${s.neg},"neu":${s.neu}}""")
    s"""{"date":"${d.date}","seq":${d.seq},"tick":$tickJson,"sentiment":$sentJson}"""
  }

  private def addFile(in: String, i: Int): Unit = {
    val tmp = Paths.get(in).resolveSibling(s".in-$i.json")
    Files.write(tmp, files(i).map(json).asJava)
    Files.move(tmp, Paths.get(in, s"part-$i.json"))
  }

  /** The speed merge the stream should have produced: the model fold
    * over every delta of `upTo` files, the last row per day.
    */
  private def expected(upTo: Int): Map[String, SpeedRow] =
    files.take(upTo).zipWithIndex
      .flatMap { case (ds, f) => ds.map(d => (f, d)) }
      .groupBy(_._2.date)
      .map { case (day, ds) =>
        // one fold per trigger, in file order, as the state store sees them
        day -> ds.groupBy(_._1).toSeq.sortBy(_._1).foldLeft(SpeedLayer.emptyRow(day)) {
          case (row, (_, batch)) => SpeedLayer.foldInto(row, batch.map(_._2).iterator)
        }
      }

  /** One speed query over the JSON files in `in`: `merge` folds them,
    * and each micro-batch's rows land in `view` keyed by date, with the
    * batch id recorded in `ids`.
    */
  private class SpeedRun(s: SparkSession, in: String, cp: String,
                         merge: Dataset[SpeedDelta] => Dataset[SpeedRow],
                         view: scala.collection.mutable.Map[String, SpeedRow],
                         ids: ArrayBuffer[Long]) {
    private val deltas = {
      import s.implicits._
      s.readStream.schema(Encoders.product[SpeedDelta].schema)
        .option("maxFilesPerTrigger", "1").json(in).as[SpeedDelta]
    }
    private val q = merge(deltas).writeStream
      .option("checkpointLocation", cp)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[SpeedRow], id: Long) =>
        val rows = batch.collect()
        view.synchronized {
          ids += id
          rows.foreach(r => view(r.date) = r)
        }
        ()
      }
      .start()

    def step(i: Int): Unit = { addFile(in, i); q.processAllAvailable() }
    def stop(): Unit = q.stop()
  }

  private def dirs(): (String, String) = {
    val base = Files.createTempDirectory("graft_cpfs_").toString
    Files.createDirectories(Paths.get(base, "in"))
    (s"$base/in", s"$base/cp")
  }

  test("a stateful stream's checkpoint has no Hadoop checksum sidecars: dirs 0755, files 0644") {
    val (in, cp) = dirs()
    val view = scala.collection.mutable.Map.empty[String, SpeedRow]
    val ids = ArrayBuffer.empty[Long]
    val run = new SpeedRun(spark, in, cp, SpeedLayer.mergeDeltas(_), view, ids)
    try (0 until 3).foreach(run.step) finally run.stop()

    assert(ids == Seq(0L, 1L, 2L))
    assert(view.toMap == expected(3))
    Seq("offsets", "commits", "sources", "state")
      .foreach(d => assert(Files.isDirectory(Paths.get(cp, d)), d))
    assert(crcs(cp).isEmpty, crcs(cp))
    val (ds, fs) = tree(cp).partition(Files.isDirectory(_))
    assert(fs.exists(_.toString.endsWith(".delta")), fs)
    ds.foreach(d => assert(mode(d) == Integer.parseInt("755", 8), s"$d ${mode(d).toOctalString}"))
    fs.foreach(f => assert(mode(f) == Integer.parseInt("644", 8), s"$f ${mode(f).toOctalString}"))
  }

  test("checkpoints resolve the FileSystem-based manager, in Session and after Tuning.install") {
    val cp = Files.createTempDirectory("graft_cpfs_mgr_").toString
    assert(manager(spark, cp).isInstanceOf[FileSystemBasedCheckpointFileManager],
      manager(spark, cp).getClass)
    // a session without the engine's confs gets Spark's default, and
    // install gives it the engine's, as it does the benchmark's session
    val plain = spark.newSession()
    Tuning.Confs.foreach { case (k, _) => plain.conf.unset(k) }
    assert(manager(plain, cp).isInstanceOf[FileContextBasedCheckpointFileManager],
      manager(plain, cp).getClass)
    Tuning.install(plain)
    assert(manager(plain, cp).isInstanceOf[FileSystemBasedCheckpointFileManager],
      manager(plain, cp).getClass)
    Tuning.Confs.foreach { case (k, v) => assert(plain.conf.get(k) == v, k) }
  }

  /** Two batches under Spark's default manager in `old`, then a restart
    * of the same query under `current`: batch ids go on from 2, no
    * input is folded twice, and the view equals the model fold.
    */
  private def restart(old: SparkSession, current: SparkSession,
                      merge: Dataset[SpeedDelta] => Dataset[SpeedRow]): String = {
    old.conf.set(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)
    val (in, cp) = dirs()
    val view = scala.collection.mutable.Map.empty[String, SpeedRow]
    val ids = ArrayBuffer.empty[Long]
    val first = new SpeedRun(old, in, cp, merge, view, ids)
    try (0 until 2).foreach(first.step) finally first.stop()
    assert(ids == Seq(0L, 1L))
    val oldCrcs = crcs(cp)
    assert(oldCrcs.exists(_.getParent.endsWith("offsets")),
      "the default manager leaves .crc sidecars")

    assert(manager(current, cp).isInstanceOf[FileSystemBasedCheckpointFileManager])
    val second = new SpeedRun(current, in, cp, merge, view, ids)
    try (2 until 4).foreach(second.step) finally second.stop()
    assert(ids == Seq(0L, 1L, 2L, 3L))
    assert(view.toMap == expected(4))
    assert(crcs(cp).toSet == oldCrcs.toSet, "the restarted run writes no .crc")
    cp
  }

  test("a checkpoint written by the FileContext manager restarts without replay") {
    restart(spark.newSession(), spark, SpeedLayer.mergeDeltas(_))
  }

  test("RocksDB: transformWithState state written by the FileContext manager reads back") {
    def rocks(): SparkSession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.streaming.stateStore.providerClass", rocksDb)
      s
    }
    val cp = restart(rocks(), rocks(), SpeedLayer.mergeDeltasTws(_))
    assert(tree(cp).exists(_.toString.endsWith(".zip")), "RocksDB checkpoint zips")
  }
}
