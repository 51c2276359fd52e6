package graft.sources

import graft.SparkSpec
import graft.plans.GraftTableRegistry
import org.apache.spark.sql.functions._

/** Each manifest records its snapshot's physical schema, and every read
  * plans from it: a new store object reads with no job, pruned reads
  * return the snapshot's columns, and a rewrite that carries dirs from
  * before a RENAME COLUMN keeps their values.
  */
class ManifestSchemaSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshRoot(): String = {
    n += 1
    Scratch.processScoped("manifest_schema_spec", "spec") + s"/case$n"
  }

  /** Three key-disjoint dirs with key stats (k 0..299, v = k), then the
    * key renamed `k` -> `key`.
    */
  private def renamedTable(): SnapshotStore = {
    val st = new SnapshotStore(spark, freshRoot())
    Seq(0L, 100L, 200L).foreach { lo =>
      st.commit("t", (lo until lo + 100L).map(k => (k, k.toDouble)).toDF("k", "v"),
        overwrite = lo == 0L, statsCols = Seq("k"))
    }
    st.renameColumn("t", "k", "key")
    st
  }

  private def nullKeys(st: SnapshotStore) =
    st.read("t").where(col("key").isNull).count()
  private def keySum(st: SnapshotStore) =
    st.read("t").agg(sum("key")).head().getLong(0)

  private val allKeys = (0L until 300L).sum

  test("a MERGE after a key rename keeps the carried dirs' keys, in the same store object") {
    val st = renamedTable()
    st.mergeInto("t", Seq((150L, -1.0)).toDF("key", "v"), "key")
    assert(st.manifestDirs("t").size == 3, "the merge rewrites one dir of three")
    assert(nullKeys(st) == 0L)
    assert(keySum(st) == allKeys)
    assert(st.read("t").where(col("key") === 150L).select("v").as[Double]
      .collect().toSeq == Seq(-1.0))
  }

  test("a rewrite DELETE after a key rename keeps the carried dirs' keys") {
    val st = renamedTable()
    spark.conf.set("spark.graft.dv.rewriteMinBytes", "1")
    try st.deleteWhere("t", "key", col("key") >= 120L && col("key") < 170L)
    finally spark.conf.unset("spark.graft.dv.rewriteMinBytes")
    val v = st.versions("t").max
    assert(st.manifestDels("t", v).isEmpty, "the delete escalated to a rewrite")
    assert(nullKeys(st) == 0L)
    assert(keySum(st) == allKeys - (120L until 170L).sum)
  }

  test("a REPLACE WHERE after a key rename keeps the carried dirs' keys") {
    val st = renamedTable()
    st.replaceWhere("t", col("key") >= 100L && col("key") < 200L,
      (100L until 200L).map(k => (k, -k.toDouble)).toDF("key", "v"),
      statsCols = Seq("key"))
    assert(nullKeys(st) == 0L)
    assert(keySum(st) == allKeys)
    assert(st.read("t").count() == 300L)
  }

  test("an OPTIMIZE WHERE after a key rename keeps the carried dirs' keys") {
    val st = renamedTable()
    st.optimizeWhere("t", col("key") >= 100L && col("key") < 200L, Nil,
      statsCols = Seq("key"))
    assert(nullKeys(st) == 0L)
    assert(keySum(st) == allKeys)
  }

  test("SQL: ALTER TABLE RENAME COLUMN then MERGE INTO keeps every key") {
    val st = new SnapshotStore(spark, freshRoot())
    Seq(0L, 100L, 200L).foreach { lo =>
      st.commit("t", (lo until lo + 100L).map(k => (k, k.toDouble)).toDF("k", "v"),
        overwrite = lo == 0L, statsCols = Seq("k"))
    }
    GraftTableRegistry.register("mss_ren", st, "t", keyCol = "k")
    spark.sql("ALTER TABLE mss_ren RENAME COLUMN k TO key")
    Seq((150L, -1.0), (300L, 300.0)).toDF("key", "v")
      .createOrReplaceTempView("mss_ren_src")
    spark.sql("""MERGE INTO mss_ren AS t USING mss_ren_src AS s ON t.key = s.key
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT count(*) FROM mss_ren WHERE key IS NULL")
      .head().getLong(0) == 0L)
    assert(spark.sql("SELECT sum(key) FROM mss_ren").head().getLong(0) ==
      allKeys + 300L)
  }

  test("pruned and indexed reads return the snapshot's columns") {
    val st = new SnapshotStore(spark, freshRoot())
    st.commit("t", (0L until 10L).map(k => (k, k.toDouble)).toDF("k", "p"),
      overwrite = true, statsCols = Seq("k"))
    // an append that adds a column: the first dir predates it
    st.commit("t", (100L until 110L).map(k => (k, k.toDouble, "x")).toDF("k", "p", "extra"),
      overwrite = false, statsCols = Seq("k"))
    st.indexRefresh("t", "k")
    val cols = st.read("t").columns.toSeq
    assert(cols == Seq("k", "p", "extra"))
    val pruned = Seq(
      "readPruned" -> st.readPruned("t", "k", "0", "10"),
      "readPrunedEq" -> st.readPrunedEq("t", "k", 5L),
      "readPrunedBox" -> st.readPrunedBox("t", Seq(("k", "0", "10"))),
      "readIndexedEq" -> st.readIndexedEq("t", "k", 5L))
    pruned.foreach { case (name, df) =>
      assert(df.columns.toSeq == cols, s"$name: ${df.columns.mkString(",")}")
    }
    assert(st.readPruned("t", "k", "0", "10").where(col("extra").isNull)
      .count() == 10L)
  }

  test("a new store object reads a table, and one with a deletion vector, with 0 jobs") {
    val root = freshRoot()
    val st = new SnapshotStore(spark, root)
    st.commit("t", (0L until 50L).map(k => (k, k.toDouble)).toDF("k", "v"),
      overwrite = true, statsCols = Seq("k"))
    st.commit("t", (50L until 100L).map(k => (k, k.toDouble)).toDF("k", "v"),
      overwrite = false, statsCols = Seq("k"))
    assert(jobsIn(new SnapshotStore(spark, root).read("t")) == 0L)
    st.deleteWhere("t", "k", col("k") < 10L)
    assert(st.manifestDels("t", st.versions("t").max).nonEmpty)
    val fresh = new SnapshotStore(spark, root)
    assert(jobsIn(fresh.read("t")) == 0L)
    assert(fresh.read("t").count() == 90L)
    // time travel from another new store object
    val tt = new SnapshotStore(spark, root)
    assert(jobsIn(tt.read("t", Some(1L))) == 0L)
    assert(tt.read("t", Some(1L)).count() == 50L)
  }

  test("widened and renamed tables read with 0 jobs") {
    val root = freshRoot()
    val st = new SnapshotStore(spark, root)
    st.commit("t", (0 until 20).map(i => (i.toLong, i)).toDF("k", "n"),
      overwrite = true, statsCols = Seq("k"))
    st.alterColumnType("t", "n", "bigint")
    st.commit("t", Seq((20L, 1L << 40)).toDF("k", "n"), overwrite = false)
    val widened = new SnapshotStore(spark, root)
    assert(jobsIn(widened.read("t")) == 0L)
    assert(widened.read("t").agg(max("n")).head().getLong(0) == (1L << 40))
    st.renameColumn("t", "n", "m")
    val renamed = new SnapshotStore(spark, root)
    assert(jobsIn(renamed.read("t")) == 0L)
    assert(renamed.read("t").columns.toSeq == Seq("k", "m"))
    assert(renamed.read("t").where(col("m").isNull).count() == 0L)
  }

  test("a 20-dir pruned re-read takes 0 jobs after 600 other dir lists") {
    val st = new SnapshotStore(spark, freshRoot())
    (1 to 40).foreach(k => st.commit("t", Seq((k, k.toDouble)).toDF("k", "v"),
      overwrite = k == 1, statsCols = Seq("k")))
    def read(lo: Int, hi: Int) = st.readPruned("t", "k", lo.toString, hi.toString)
    assert(read(1, 20).count() == 20L)
    val others = for (len <- 2 to 32; lo <- 1 to 41 - len) yield (lo, lo + len - 1)
    val jobs = others.filterNot(_ == ((1, 20))).take(600).grouped(20).map { g =>
      g.foreach { case (lo, hi) => read(lo, hi) }
      jobsIn(read(1, 20))
    }.sum
    assert(jobs == 0L)
  }

  test("a manifest without the schema field still reads; the next commit records it") {
    val root = freshRoot()
    val dataDir = java.nio.file.Paths.get(root, "lg", "data", "b1-legacy")
    java.nio.file.Files.createDirectories(dataDir.getParent)
    (0L until 5L).map(k => (k, k.toDouble)).toDF("k", "v").coalesce(1)
      .write.parquet(dataDir.toString)
    val mdir = java.nio.file.Paths.get(root, "lg", "_manifests")
    java.nio.file.Files.createDirectories(mdir)
    java.nio.file.Files.writeString(mdir.resolve("v000001.json"),
      """{"dirs":["b1-legacy"],"dels":[],"ts":1,"txns":[]}""")
    val st = new SnapshotStore(spark, root)
    assert(st.read("lg").as[(Long, Double)].collect().sortBy(_._1).toSeq ==
      (0L until 5L).map(k => (k, k.toDouble)))
    st.commit("lg", Seq((5L, 5.0, "new")).toDF("k", "v", "tag"), overwrite = false)
    val fresh = new SnapshotStore(spark, root)
    assert(jobsIn(fresh.read("lg")) == 0L)
    assert(fresh.read("lg").columns.toSeq == Seq("k", "v", "tag"))
    assert(fresh.read("lg").count() == 6L)
    // the legacy version itself still reads through the footer merge
    assert(fresh.read("lg", Some(1L)).count() == 5L)
  }

  test("a bloom commit costs only its sketch's jobs over the same commit without blooms") {
    def commitJobs(bloom: Seq[String]): Long = {
      val st = new SnapshotStore(spark, freshRoot())
      st.commit("t", Seq((0L, 0.0)).toDF("k", "v"), overwrite = true)
      jobsIn(st.commit("t", (1L to 50L).map(k => (k, k.toDouble)).toDF("k", "v"),
        overwrite = false, statsCols = Seq("k"), bloomCols = bloom))
    }
    val plain = commitJobs(Nil)
    val bloom = commitJobs(Seq("k"))
    // the sketch's aggregate (a map stage and a result, 2 jobs): the
    // sidecar writer reads the written dir under the frame's schema,
    // with no footer job of its own
    assert(bloom - plain == 2L, s"plain $plain, bloom $bloom")
  }
}
