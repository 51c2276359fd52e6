package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Driver-held deletion vectors: a point DELETE (key literals only)
  * writes its vector as a key file the driver reads, so reads filter
  * the keys instead of joining a vector, and MERGE probes and subtracts
  * them on the driver. Every other vector stays parquet, and both forms
  * must give the same answers everywhere a vector is read.
  */
class HeldVectorSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshStore(): (SnapshotStore, String) = {
    n += 1
    val root = Scratch.processScoped("held_vector_spec", "spec") + s"/case$n"
    (new SnapshotStore(spark, root), root)
  }

  /** 300 rows, keys 0..299, in three dirs with key stats. */
  private def seed(st: SnapshotStore): Unit =
    Seq(0, 100, 200).zipWithIndex.foreach { case (lo, i) =>
      st.commit("t", (lo until lo + 100).map(k => (k.toLong, s"v$k")).toDF("k", "v"),
        overwrite = i == 0, statsCols = Seq("k"))
    }

  /** Whether each vector dir of `view` at `v` holds a driver key file. */
  private def heldFlags(st: SnapshotStore, root: String, v: Long,
                        view: String = "t"): Seq[Boolean] =
    st.manifestDels(view, v).map(d =>
      Files.exists(Paths.get(root, view, "data", d, "keys.json").normalize()))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def withConf[A](pairs: (String, String)*)(body: => A): A =
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally pairs.foreach { case (k, _) => spark.conf.unset(k) }

  test("a point DELETE holds its keys on the driver: 1 job, reads plan 0 and a lookup runs 1") {
    val (st, root) = freshStore()
    seed(st)
    graft.plans.GraftTableRegistry.register("hv_jobs", st, "t", keyCol = "k")
    assert(jobsIn(spark.sql("DELETE FROM hv_jobs WHERE k = 5").collect()) == 1)
    assert(jobsIn(spark.sql(
      "DELETE FROM hv_jobs WHERE k IN (6, 7) OR k = 8").collect()) == 1)
    val v = st.versions("t").max
    assert(heldFlags(st, root, v) == Seq(true, true))
    assert(jobsIn(st.read("t")) == 0)
    assert(jobsIn(st.read("t").where(col("k") === 9L).collect()) == 1)
    assert(st.read("t").count() == 296L)
    assert(st.read("t").where(col("k").between(5L, 8L)).isEmpty)
    // a SQL lookup of a held-deleted key, and of a live one
    assert(spark.sql("SELECT v FROM hv_jobs WHERE k = 7").collect().isEmpty)
    assert(spark.sql("SELECT v FROM hv_jobs WHERE k = 9").head().getString(0) == "v9")
    // any other predicate keeps the parquet vector
    spark.sql("DELETE FROM hv_jobs WHERE k < 3")
    assert(heldFlags(st, root, st.versions("t").max) == Seq(true, true, false))
    assert(st.read("t").count() == 293L)
  }

  test("held and parquet vectors give identical reads, time travel, diffs, folds, " +
      "RESTORE, CLONE and VACUUM") {
    val (a, rootA) = freshStore() // point deletes: held vectors
    val (b, rootB) = freshStore() // the same deletes as ranges: parquet
    Seq(a, b).foreach(seed)
    // the same key set, as key literals for `a` and as a range for `b`
    def del(lo: Long, hi: Long): Unit = {
      a.deleteWhere("t", "k", col("k").isin((lo to hi): _*))
      b.deleteWhere("t", "k", col("k") >= lo && col("k") <= hi)
    }
    def both(f: SnapshotStore => Any): Unit = Seq(a, b).foreach(f)
    withConf("spark.graft.dv.maxVectors" -> "3") {
      del(10L, 10L)
      del(20L, 22L)
      both(_.commit("t", (300 until 310).map(k => (k.toLong, s"v$k")).toDF("k", "v"),
        overwrite = false, statsCols = Seq("k")))
      // re-insert a deleted key (subtraction), update one, insert one
      both(_.mergeInto("t", Seq((21L, "m21"), (50L, "m50"), (400L, "m400"))
        .toDF("k", "v"), "k", statsCols = Seq("k")))
      del(50L, 50L)
      del(60L, 61L)
      del(70L, 70L) // the fourth vector: folds past maxVectors = 3
      del(305L, 306L)
    }
    val head = a.versions("t").max
    assert(head == b.versions("t").max)
    assert(heldFlags(a, rootA, head).nonEmpty && heldFlags(a, rootA, head).forall(identity),
      heldFlags(a, rootA, head))
    assert(heldFlags(b, rootB, head).forall(!_))
    assert(a.versions("t").exists(v => a.manifestDels("t", v).exists(_.contains("fold"))),
      "the loop must have folded held vectors")
    def same(f: SnapshotStore => DataFrame): Unit = assert(rows(f(a)) == rows(f(b)))
    val atHead = rows(a.read("t"))
    a.versions("t").foreach(v => same(_.read("t", Some(v))))
    same(_.diff("t", 1L, head, Seq("k")))
    a.versions("t").sliding(2).foreach { case Seq(x, y) =>
      same(_.signedDelta("t", x, y).get)
    }
    same(_.signedDelta("t", 3L, head).get)
    // a mixed snapshot: a parquet vector beside held ones
    both(_.deleteWhere("t", "k", col("k") % 50 === 3))
    assert(heldFlags(a, rootA, head + 1).contains(false) &&
      heldFlags(a, rootA, head + 1).contains(true))
    same(_.read("t"))
    both(_.mergeInto("t", Seq((3L, "m3"), (20L, "m20")).toDF("k", "v"), "k",
      statsCols = Seq("k")))
    same(_.read("t"))
    same(_.signedDelta("t", head, head + 2).get)
    // RESTORE rolls the deletes back, CLONE and VACUUM keep the answers
    both(_.restore("t", 4L))
    same(_.read("t"))
    same(_.signedDelta("t", head + 2, head + 3).get)
    both(_.cloneView("t", "c"))
    same(_.read("c"))
    both(_.restore("t", head))
    both(_.vacuum("t", retainVersions = 2))
    same(_.read("t"))
    same(_.read("c"))
    assert(rows(a.read("t")) == atHead)
  }

  test("signedDelta over held vectors probes, subtracts and matches keys on the driver: " +
      "1 job per window") {
    val (st, root) = freshStore()
    seed(st)
    val v1 = st.versions("t").max
    def delta(from: Long, to: Long): Seq[(Long, Int)] = {
      var got: Array[org.apache.spark.sql.Row] = null
      val jobs = jobsIn { got = st.signedDelta("t", from, to).get.collect() }
      assert(jobs == 1, s"v$from -> v$to: $jobs jobs")
      got.map(r => (r.getAs[Long]("k"), r.getAs[Int]("_graft_sign"))).toSeq.sorted
    }
    // a window that only added one held vector: the newly deleted rows
    val v2 = st.deleteWhere("t", "k", col("k").isin(150L, 151L))
    assert(heldFlags(st, root, v2) == Seq(true))
    assert(delta(v1, v2) == Seq((150L, -1), (151L, -1)))
    // a second held vector beside the first: the keys suppressed at the
    // window's base are subtracted before the probe
    val v3 = st.deleteWhere("t", "k", col("k").isin(151L, 250L, 251L))
    assert(heldFlags(st, root, v3) == Seq(true, true))
    assert(delta(v2, v3) == Seq((250L, -1), (251L, -1)))
    // RESTORE drops both vectors: their rows resurrect
    val v4 = st.restore("t", v1)
    assert(delta(v3, v4) == Seq((150L, 1), (151L, 1), (250L, 1), (251L, 1)))
  }

  test("held vectors that together pass the key bound read like parquet vectors") {
    val (a, rootA) = freshStore() // point deletes: held vectors
    val (b, rootB) = freshStore() // the same deletes as ranges: parquet
    Seq(a, b).foreach(st => Seq(0, 500, 1000).zipWithIndex.foreach { case (lo, i) =>
      st.commit("t", (lo until lo + 500).map(k => (k.toLong, s"v$k")).toDF("k", "v"),
        overwrite = i == 0, statsCols = Seq("k"))
    })
    // two deletes of 600 keys each: each vector stays held, their union
    // of 1200 keys is past the bound a held read filters by
    def del(lo: Long, hi: Long): Unit = {
      a.deleteWhere("t", "k", col("k").isin((lo to hi): _*))
      b.deleteWhere("t", "k", col("k") >= lo && col("k") <= hi)
    }
    def both(f: SnapshotStore => Any): Unit = Seq(a, b).foreach(f)
    def same(f: SnapshotStore => DataFrame): Unit = assert(rows(f(a)) == rows(f(b)))
    del(0L, 599L)
    del(900L, 1499L)
    val v = a.versions("t").max
    assert(heldFlags(a, rootA, v) == Seq(true, true))
    assert(heldFlags(b, rootB, v) == Seq(false, false))
    same(_.read("t"))
    assert(a.read("t").count() == 300L)
    same(_.read("t").where(col("k") === 650L))
    assert(a.read("t").where(col("k") === 5L).isEmpty)
    // a third point delete probes the live rows, MERGE and REPLACE
    // WHERE re-insert deleted keys, and the deltas agree
    del(700L, 701L)
    both(_.mergeInto("t", Seq((5L, "m5"), (650L, "m650"), (2000L, "m2000"))
      .toDF("k", "v"), "k", statsCols = Seq("k")))
    same(_.read("t"))
    both(_.replaceWhere("t", col("k").between(1000L, 1010L),
      Seq((1000L, "r1000"), (1010L, "r1010")).toDF("k", "v"), statsCols = Seq("k")))
    same(_.read("t"))
    assert(a.read("t").where(col("k").isin(5L, 1000L, 1010L)).count() == 3L)
    same(_.signedDelta("t", v, a.versions("t").max).get)
    same(_.read("t", Some(v)))
  }

  test("each by-value key type round-trips exactly through a held vector") {
    val d = (s: String) => java.sql.Date.valueOf(s)
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val cases: Seq[(String, DataFrame, Column, Seq[Any])] = Seq(
      ("int", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"),
        col("k") === 2, Seq(1, 3)),
      ("long", Seq((Long.MaxValue, "a"), (-1L, "b"), (3L, "c")).toDF("k", "v"),
        col("k") === Long.MaxValue, Seq(-1L, 3L)),
      ("decimal", Seq((BigDecimal("123456789012.3456"), "a"),
        (BigDecimal("-0.0001"), "b")).toDF("k", "v")
        .select(col("k").cast("decimal(20,4)").as("k"), col("v")),
        col("k") === lit(BigDecimal("-0.0001").bigDecimal),
        Seq(new java.math.BigDecimal("123456789012.3456"))),
      ("string", Seq(("ключ-ü\u0000", "a"), ("plain", "b"), ("", "c")).toDF("k", "v"),
        col("k").isin("ключ-ü\u0000", ""), Seq("plain")),
      ("date", Seq((d("1969-12-31"), "a"), (d("2024-02-29"), "b")).toDF("k", "v"),
        col("k") === lit(d("1969-12-31")), Seq(d("2024-02-29"))),
      ("timestamp", Seq((ts("2024-01-02 03:04:05.123456"), "a"),
        (ts("2024-01-02 03:04:05.123457"), "b")).toDF("k", "v"),
        col("k") === lit(ts("2024-01-02 03:04:05.123456")),
        Seq(ts("2024-01-02 03:04:05.123457"))))
    cases.foreach { case (name, df, pred, left) =>
      val (st, root) = freshStore()
      st.commit("t", df, overwrite = true, statsCols = Seq("k"))
      val v = st.deleteWhere("t", "k", pred)
      assert(heldFlags(st, root, v) == Seq(true), name)
      assert(st.read("t").select("k").collect().map(_.get(0)).toSeq.sortBy(_.toString) ==
        left.sortBy(_.toString), name)
      // a fresh store decodes the same key file to the same answer
      assert(rows(new SnapshotStore(spark, root).read("t")) == rows(st.read("t")), name)
      // resurrect every deleted key: the vector empties, every row shows
      val back = df.where(pred)
      st.mergeInto("t", back, "k")
      assert(st.manifestDels("t", st.versions("t").max).isEmpty, name)
      assert(rows(st.read("t")) == rows(df), name)
    }
  }

  test("float and binary keys keep parquet vectors") {
    Seq[(String, DataFrame, Column)](
      ("double", Seq((1.5, "a"), (2.5, "b")).toDF("k", "v"), col("k") === 1.5),
      ("binary", Seq((Array[Byte](1, 2), "a"), (Array[Byte](3), "b")).toDF("k", "v"),
        col("k") === lit(Array[Byte](1, 2))))
      .foreach { case (name, df, pred) =>
        val (st, root) = freshStore()
        st.commit("t", df, overwrite = true)
        val v = st.deleteWhere("t", "k", pred)
        assert(heldFlags(st, root, v) == Seq(false), name)
        assert(st.read("t").select("v").as[String].collect().toSeq == Seq("b"), name)
      }
  }

  test("INSERT re-inserting a point-deleted key shows the new row; a fresh key stays one job") {
    val root = Scratch.processScoped("held_vector_spec", "spec") + "/sql"
    Scratch.deleteRecursively(new java.io.File(root))
    spark.conf.set("spark.graft.store.root", root)
    try {
      spark.sql("CREATE TABLE hv_r (k BIGINT, v STRING) USING graft PRIMARY KEY k")
      spark.sql("INSERT INTO hv_r VALUES (1, 'a'), (2, 'b')")
      spark.sql("DELETE FROM hv_r WHERE k = 1")
      // a fresh key: the vector carries, the INSERT stays one job
      assert(jobsIn(spark.sql("INSERT INTO hv_r VALUES (3, 'c')").collect()) == 1)
      // a re-inserted key: the payload write and the rewrite of the
      // old row's dir, with the overlap found on the driver
      var ins: org.apache.spark.sql.Row = null
      assert(jobsIn { ins = spark.sql("INSERT INTO hv_r VALUES (1, 'again')").head() } == 2)
      assert(ins.getLong(2) == 1L)
      def table = spark.sql("SELECT k, v FROM hv_r").as[(Long, String)].collect().sorted.toSeq
      assert(table == Seq((1L, "again"), (2L, "b"), (3L, "c")))
      // a parquet vector and a non-local payload take the distributed check
      spark.sql("DELETE FROM hv_r WHERE k >= 2 AND k <= 2")
      spark.sql("INSERT INTO hv_r SELECT k + 1, 'sel' FROM hv_r WHERE k = 1")
      assert(table == Seq((1L, "again"), (2L, "sel"), (3L, "c")))
      spark.sql("DELETE FROM hv_r WHERE k = 3")
      spark.sql("INSERT INTO hv_r SELECT k + 2, 'sel3' FROM hv_r WHERE k = 1")
      assert(table == Seq((1L, "again"), (2L, "sel"), (3L, "sel3")))
    } finally {
      spark.conf.unset("spark.graft.store.root")
      graft.plans.GraftTableRegistry.unregister("hv_r")
    }
  }

  test("racing point deletes and appends all land (OCC hammer)") {
    val (st, root) = freshStore()
    seed(st)
    val deletes = (0 until 2).map(t => (0 until 6).map(i => (t * 100 + i * 7).toLong))
    val appends = (0 until 2).map(t => (0 until 4).map(i => 1000 + t * 100 + i * 10))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = deletes.map(ks => new Thread(() =>
      try ks.foreach(k => st.retryOnConflict(attempts = 30)(
        st.deleteWhere("t", "k", col("k") === k)))
      catch { case e: Throwable => errors.add(e) })) ++
      appends.map(ls => new Thread(() =>
        try ls.foreach(lo => st.retryOnConflict(attempts = 30)(st.commit("t",
          (lo until lo + 10).map(k => (k.toLong, s"v$k")).toDF("k", "v"),
          overwrite = false, statsCols = Seq("k"))))
        catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    val want = ((0L until 300L).toSet -- deletes.flatten) ++
      appends.flatten.flatMap(lo => lo until lo + 10).map(_.toLong)
    assert(st.read("t").select("k").as[Long].collect().toSet == want)
    assert(st.read("t").count() == want.size.toLong)
    assert(heldFlags(st, root, st.versions("t").max).forall(identity))
  }
}
