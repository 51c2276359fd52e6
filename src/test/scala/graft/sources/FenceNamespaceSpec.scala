package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-16: COPY INTO file fences live in their OWN manifest field
  * (`files`), disjoint from user txn ids by construction — a user txn
  * id equal to a path hash can no longer make COPY INTO silently skip
  * a file, nor a fence swallow a user's appendOnce. Plus the fence's
  * (path, size, mtime) identity, the surfaced files_skipped count, the
  * COPY INTO PRIMARY KEY probe, and replaceWhere's expectedBase pin.
  */
class FenceNamespaceSpec extends SparkSpec {

  private var n = 0
  private def freshRoot(): String = {
    n += 1
    graft.sources.Scratch.processScoped("fence_spec", "spec") + s"/case$n"
  }

  private def withRoot[T](root: String)(body: => T): T = {
    spark.conf.set("spark.graft.store.root", root)
    try body finally spark.conf.unset("spark.graft.store.root")
  }

  test("file fences and txn ids are disjoint namespaces: a colliding " +
      "user txn id neither skips a COPY file nor gets swallowed") {
    val root = freshRoot()
    withRoot(root) {
      import spark.implicits._
      val land = root + "/land"
      Seq((1L, 1.0)).toDF("k", "p").coalesce(1).write.parquet(land)
      spark.sql("CREATE TABLE fn1 (k BIGINT, p DOUBLE) USING graft " +
        "PRIMARY KEY k")
      val (st, view) = graft.plans.GraftTableRegistry.lookup("fn1").get
      // the file's fence id, precomputed; append a batch under the SAME
      // 64-bit id as a USER txn — the adversarial collision
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(land))
      val dataFile = try {
        import scala.jdk.CollectionConverters._
        f.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq.head
      } finally f.close()
      val fence = st.fileFence(dataFile)
      val applied = st.appendOnce(view, Seq((100L, 9.0)).toDF("k", "p"),
        txnId = fence)
      assert(applied.nonEmpty, "the user txn must land")
      // COPY INTO must still load the file — the txn id in the manifest
      // is NOT a file fence (pre-namespacing this skipped silently)
      val r1 = spark.sql(
        s"COPY INTO fn1 FROM '$land' FILEFORMAT = PARQUET").head()
      assert(r1.getLong(2) == 1L && r1.getLong(4) == 0L,
        s"the colliding txn id must not fence the file out: $r1")
      // and the reverse: a user append under the same id AFTER the file
      // fence recorded is still fenced by ITS OWN txn record only
      val again = st.appendOnce(view, Seq((101L, 9.0)).toDF("k", "p"),
        txnId = fence)
      assert(again.isEmpty, "the txn id itself was applied above — fenced")
      // re-run: nothing loads, the skip is OBSERVABLE in files_skipped
      val r2 = spark.sql(
        s"COPY INTO fn1 FROM '$land' FILEFORMAT = PARQUET").head()
      assert(r2.getLong(2) == 0L && r2.getLong(4) == 1L, s"$r2")
      // fences survive an overwrite commit (carry contract, like txns)
      st.commit(view, Seq((5L, 5.0)).toDF("k", "p"), overwrite = true)
      val r3 = spark.sql(
        s"COPY INTO fn1 FROM '$land' FILEFORMAT = PARQUET").head()
      assert(r3.getLong(2) == 0L && r3.getLong(4) == 1L,
        s"fences must survive rewrites: $r3")
      spark.sql("DROP TABLE fn1")
    }
  }

  test("a file overwritten in place with new content RE-loads (identity " +
      "is path+size+mtime, the modified-file contract)") {
    val root = freshRoot()
    withRoot(root) {
      import spark.implicits._
      val land = new java.io.File(root, "land2")
      land.mkdirs()
      val p = new java.io.File(land, "shard.csv").toPath
      java.nio.file.Files.writeString(p, "k,p\n1,1.5\n")
      spark.sql("CREATE TABLE fn2 (k BIGINT, p DOUBLE) USING graft")
      val r1 = spark.sql(
        s"COPY INTO fn2 FROM '$land' FILEFORMAT = CSV").head()
      assert(r1.getLong(3) == 1L, s"$r1")
      // rewrite the file in place: new content, new size/mtime
      java.nio.file.Files.writeString(p, "k,p\n2,2.5\n3,3.5\n")
      val r2 = spark.sql(
        s"COPY INTO fn2 FROM '$land' FILEFORMAT = CSV").head()
      assert(r2.getLong(2) == 1L && r2.getLong(3) == 2L,
        s"a modified file must re-load: $r2")
      assert(spark.sql("SELECT count(*) FROM fn2").head().getLong(0) == 3L)
      spark.sql("DROP TABLE fn2")
    }
  }

  test("COPY INTO honors spark.graft.sql.enforcePrimaryKey: a batch " +
      "repeating or colliding on the key refuses before any write") {
    val root = freshRoot()
    withRoot(root) {
      import spark.implicits._
      spark.sql("CREATE TABLE fn3 (k BIGINT, p DOUBLE) USING graft " +
        "PRIMARY KEY k")
      spark.sql("INSERT INTO fn3 VALUES (1, 1.0)")
      spark.conf.set("spark.graft.sql.enforcePrimaryKey", "true")
      try {
        // intra-batch duplicate
        val dupLand = root + "/land_dup"
        Seq((7L, 1.0), (7L, 2.0)).toDF("k", "p").coalesce(1)
          .write.parquet(dupLand)
        val dup = scala.util.Try(spark.sql(
          s"COPY INTO fn3 FROM '$dupLand' FILEFORMAT = PARQUET").collect())
        assert(dup.isFailure &&
          dup.failed.get.getMessage.contains("repeats PRIMARY KEY"),
          dup.toString)
        // existing-key collision
        val exLand = root + "/land_ex"
        Seq((1L, 9.0)).toDF("k", "p").coalesce(1).write.parquet(exLand)
        val ex = scala.util.Try(spark.sql(
          s"COPY INTO fn3 FROM '$exLand' FILEFORMAT = PARQUET").collect())
        assert(ex.isFailure &&
          ex.failed.get.getMessage.contains("already exists"), ex.toString)
        // nothing landed, and the failed files are NOT fenced — a fixed
        // batch re-loads
        assert(spark.sql("SELECT count(*) FROM fn3").head().getLong(0) == 1L)
        val okLand = root + "/land_ok"
        Seq((2L, 2.0)).toDF("k", "p").coalesce(1).write.parquet(okLand)
        val ok = spark.sql(
          s"COPY INTO fn3 FROM '$okLand' FILEFORMAT = PARQUET").head()
        assert(ok.getLong(2) == 1L, s"$ok")
      } finally spark.conf.unset("spark.graft.sql.enforcePrimaryKey")
      spark.sql("DROP TABLE fn3")
    }
  }

  test("copyLegacyFences: the opt-in migration switch recognizes " +
      "pre-namespacing path-only fences in the txn set") {
    val root = freshRoot()
    withRoot(root) {
      import spark.implicits._
      val land = root + "/land"
      Seq((1L, 1.0)).toDF("k", "p").coalesce(1).write.parquet(land)
      spark.sql("CREATE TABLE lf1 (k BIGINT, p DOUBLE) USING graft")
      val (st, view) = graft.plans.GraftTableRegistry.lookup("lf1").get
      // simulate a pre-upgrade load: content committed with the OLD
      // path-only fence recorded as a txn id
      val f = {
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(land))
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.map(_.toString)
            .filter(_.endsWith(".parquet")).toSeq.head
        } finally l.close()
      }
      st.commit(view, spark.read.parquet(land), overwrite = false,
        txn = Some(st.fileFenceLegacy(f)))
      // default: the legacy fence is invisible — the file re-loads
      // (the documented upgrade hazard the switch exists for)
      val r1 = spark.sql(
        s"COPY INTO lf1 FROM '$land' FILEFORMAT = PARQUET").head()
      require(r1.getLong(2) == 1L, s"$r1")
      spark.sql("TRUNCATE TABLE lf1")
      st.commit(view, spark.read.parquet(land), overwrite = false,
        txn = Some(st.fileFenceLegacy(f)))
      spark.conf.set("spark.graft.sql.copyLegacyFences", "true")
      try {
        val r2 = spark.sql(
          s"COPY INTO lf1 FROM '$land' FILEFORMAT = PARQUET").head()
        assert(r2.getLong(2) == 0L && r2.getLong(4) == 1L,
          s"the switch must recognize the legacy fence: $r2")
      } finally spark.conf.unset("spark.graft.sql.copyLegacyFences")
      spark.sql("DROP TABLE lf1")
    }
  }

  test("history() survives a NON-CONTIGUOUS retained set (syncpoint pin " +
      "below the vacuum horizon)") {
    val root = freshRoot()
    import spark.implicits._
    val st = new SnapshotStore(spark, root)
    (1 to 5).foreach { i =>
      st.commit("hg", Seq((i.toLong, s"v$i")).toDF("k", "v"),
        overwrite = i == 1)
    }
    // pin v2 via a live syncpoint, then vacuum to the newest 2 —
    // retained versions become {2, 4, 5}: v3 (the predecessor of v4)
    // is GONE, which used to crash history() on readManifest(v-1)
    st.publishSync(Map("hg" -> 2L))
    st.vacuum("hg", retainVersions = 2)
    assert(st.versions("hg") == Seq(2L, 4L, 5L))
    val h = st.history("hg").collect().map(_.getLong(0)).toSeq
    assert(h == Seq(2L, 4L, 5L), h.toString)
  }

  test("replaceWhere pins expectedBase: a commit landing between probe " +
      "and publish surfaces as SnapshotConflict, not a silent swap") {
    val root = freshRoot()
    import spark.implicits._
    val st = new SnapshotStore(spark, root)
    st.commit("rw", Seq((1L, 1.0), (2L, 2.0)).toDF("k", "p"),
      overwrite = true, statsCols = Seq("k"))
    val stale = st.versions("rw").max
    st.commit("rw", Seq((3L, 3.0)).toDF("k", "p"), overwrite = false)
    val t = scala.util.Try(st.replaceWhere("rw",
      col("k") >= 2, Seq((2L, 20.0)).toDF("k", "p"),
      expectedBase = Some(stale)))
    assert(t.isFailure && t.failed.get.getMessage.contains("expected base"),
      t.toString)
    // un-pinned call still works (the default semantics are unchanged)
    st.replaceWhere("rw", col("k") >= 2, Seq((2L, 20.0)).toDF("k", "p"))
    assert(st.read("rw").count() == 2L)
  }

  test("file fence hashes are pinned: manifests persist them, so the " +
      "FNV-1a identity must never drift") {
    val st = new SnapshotStore(spark, freshRoot())
    // a fixed absolute path with a fixed size and mtime — the fence's
    // whole (path, size, mtime) identity — hashed to literal constants
    val dir = java.nio.file.Paths.get("/tmp/graft-fence-pin")
    val file = dir.resolve("part-00000.parquet")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(file, Array.fill[Byte](1234)(7))
    java.nio.file.Files.setLastModifiedTime(file,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L))
    try {
      assert(st.fileFence(file.toString) == 7137057238453350865L)
      // the legacy fence hashes the path alone: no file needed
      assert(st.fileFenceLegacy(file.toString) == -8937704186561964453L)
      // the hashed identity is the NORMALIZED path
      assert(st.fileFenceLegacy("/tmp/graft-fence-pin/x/../part-00000.parquet") ==
        -8937704186561964453L)
    } finally {
      java.nio.file.Files.deleteIfExists(file)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }
}
