package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Round-17: declarative MATERIALIZED VIEWs — CREATE seeds and
  * classifies, REFRESH maintains incrementally from the source's
  * commit delta (affected-group recompute over
  * [[graft.sources.SnapshotStore.signedDelta]]), and every refresh
  * result must equal the from-scratch recompute of the defining query
  * (the maintenance-invisibility contract, same as q154's Scala tier).
  */
class MaterializedViewSpec extends SparkSpec {

  private var n = 0
  private def freshRoot(): String = {
    n += 1
    graft.sources.Scratch.processScoped("mv_spec", "spec") + s"/case$n"
  }

  private def withRoot[T](root: String)(body: => T): T = {
    spark.conf.set("spark.graft.store.root", root)
    try body finally spark.conf.unset("spark.graft.store.root")
  }

  private def seedSrc(tbl: String): Unit = {
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, g STRING, h BIGINT, " +
      s"p DOUBLE) USING graft PRIMARY KEY k")
    spark.sql(s"INSERT INTO $tbl SELECT id, concat('g', id % 5), " +
      "id % 3, CAST(id AS DOUBLE) FROM range(0, 200)")
  }

  private def sortedRows(sql: String): Seq[Row] =
    spark.sql(sql).collect().toSeq.sortBy(_.toString)

  /** The maintenance-invisibility assertion: MV content == defining
    * query recomputed from scratch over the live source.
    */
  private def assertFresh(mv: String, defining: String): Unit = {
    val got = sortedRows(s"SELECT * FROM $mv")
    val want = sortedRows(defining)
    assert(got == want, s"\nMV: $got\nfresh: $want")
  }

  test("agg MV (single group col): create classifies agg; " +
      "insert/update/delete refresh incrementally and exactly") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src1")
      val defining = "SELECT g, count(*) AS n, sum(p) AS sp, " +
        "avg(p) AS ap, min(p) AS mp FROM mvs_src1 GROUP BY g"
      val created =
        spark.sql(s"CREATE MATERIALIZED VIEW mvs_daily AS $defining").head()
      assert(created.getString(1) == "agg", created.toString)
      assertFresh("mvs_daily", defining)

      // INSERT into two groups, UPDATE rows across groups, DELETE the
      // current min of one group (the delta-arithmetic killer: min
      // under delete needs recompute, which this engine does by design)
      spark.sql("INSERT INTO mvs_src1 VALUES (1000, 'g1', 0, 9999.0)")
      spark.sql("UPDATE mvs_src1 SET g = 'g9', p = p + 0.5 WHERE k % 50 = 3")
      spark.sql("DELETE FROM mvs_src1 WHERE p = 0.0")
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_daily").head()
      assert(r.getString(1) == "incremental_agg", r.toString)
      // bounded by the group space (the 200-row seed is ONE dir, so
      // copy-on-write dirties every co-resident group — the O(delta)
      // multi-dir evidence is the signedDelta test below)
      assert(r.getLong(4) > 0 && r.getLong(4) <= 7, r.toString)
      assertFresh("mvs_daily", defining)

      // no-op refresh: nothing committed since
      val r2 = spark.sql("REFRESH MATERIALIZED VIEW mvs_daily").head()
      assert(r2.getString(1) == "noop" && r2.getLong(5) == r.getLong(5),
        r2.toString)
    }
  }

  test("agg MV: multi-column groups take the rebuild path and stay " +
      "exact, including NULL group values") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src2")
      // NULL group value in play
      spark.sql("INSERT INTO mvs_src2 VALUES (2000, NULL, 1, 7.0)")
      val defining = "SELECT g, h, count(*) AS n, max(p) AS xp " +
        "FROM mvs_src2 GROUP BY g, h"
      assert(spark.sql(
        s"CREATE MATERIALIZED VIEW mvs_gh AS $defining")
        .head().getString(1) == "agg")
      spark.sql("INSERT INTO mvs_src2 VALUES (2001, NULL, 1, 8.0)")
      spark.sql("DELETE FROM mvs_src2 WHERE k = 2000")
      spark.sql("UPDATE mvs_src2 SET h = 2 WHERE k % 40 = 7")
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_gh").head()
      assert(r.getString(1) == "incremental_agg", r.toString)
      assertFresh("mvs_gh", defining)
    }
  }

  test("agg MV: WHERE + HAVING maintain across filter-crossing updates " +
      "and group disappearance") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src3")
      val defining = "SELECT g, count(*) AS n FROM mvs_src3 " +
        "WHERE p < 100 GROUP BY g HAVING count(*) > 3"
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_hav AS $defining")
      // push most of g2's rows out of the WHERE window; g2's group
      // must shrink below the HAVING bar and VANISH from the MV
      spark.sql("UPDATE mvs_src3 SET p = p + 1000 " +
        "WHERE g = 'g2' AND k > 10")
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_hav").head()
      assert(r.getString(1) == "incremental_agg", r.toString)
      assertFresh("mvs_hav", defining)
      assert(!spark.sql("SELECT * FROM mvs_hav").collect()
        .exists(_.getString(0) == "g2"))
    }
  }

  test("spj MV: keyed row maintenance with tombstones for deletes and " +
      "filtered-out updates") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src4")
      val defining = "SELECT k, upper(g) AS gu, p * 2 AS p2 " +
        "FROM mvs_src4 WHERE h = 1"
      val created =
        spark.sql(s"CREATE MATERIALIZED VIEW mvs_rows AS $defining").head()
      assert(created.getString(1) == "spj", created.toString)
      spark.sql("UPDATE mvs_src4 SET h = 0 WHERE k = 1")   // leaves filter
      spark.sql("UPDATE mvs_src4 SET h = 1, p = -1 WHERE k = 3") // enters
      spark.sql("DELETE FROM mvs_src4 WHERE k = 4")        // deleted
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_rows").head()
      assert(r.getString(1) == "incremental_spj", r.toString)
      assertFresh("mvs_rows", defining)
    }
  }

  test("full fallback: a join-shaped MV classifies full and REFRESH " +
      "recomputes; FULL keyword forces recompute on any shape") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src5a")
      spark.sql("CREATE TABLE mvs_dim (g STRING, label STRING) " +
        "USING graft PRIMARY KEY g")
      spark.sql("INSERT INTO mvs_dim VALUES ('g1', 'one'), ('g2', 'two')")
      val defining = "SELECT s.g, d.label, count(*) AS n " +
        "FROM mvs_src5a s JOIN mvs_dim d ON s.g = d.g GROUP BY s.g, d.label"
      val created =
        spark.sql(s"CREATE MATERIALIZED VIEW mvs_joined AS $defining").head()
      assert(created.getString(1) == "full", created.toString)
      spark.sql("UPDATE mvs_dim SET label = 'TWO' WHERE g = 'g2'")
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_joined").head()
      assert(r.getString(1) == "full" && r.getLong(4) == -1L, r.toString)
      assertFresh("mvs_joined", defining)
      // FULL on an incrementally-maintainable view still recomputes
      spark.sql("CREATE MATERIALIZED VIEW mvs_forced AS " +
        "SELECT g, count(*) AS n FROM mvs_src5a GROUP BY g")
      val rf = spark.sql("REFRESH MATERIALIZED VIEW mvs_forced FULL").head()
      assert(rf.getString(1) == "full_forced", rf.toString)
    }
  }

  test("crash idempotence: re-applying an already-applied window " +
      "converges (synced rolled back by hand, refresh re-runs)") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src6")
      val defining =
        "SELECT g, sum(p) AS sp FROM mvs_src6 GROUP BY g"
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_idem AS $defining")
      spark.sql("UPDATE mvs_src6 SET p = p + 1 WHERE k % 7 = 0")
      spark.sql("REFRESH MATERIALIZED VIEW mvs_idem")
      val before = sortedRows("SELECT * FROM mvs_idem")
      // simulate a refresh that committed but died before the synced
      // bump: roll the pointer back one refresh and re-run
      val ps = GraftTableRegistry.lookupProps("mvs_idem")
      GraftTableRegistry.registerProps("mvs_idem",
        ps + (MaterializedView.SyncedProp -> "1"))
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_idem").head()
      assert(r.getString(1) == "incremental_agg", r.toString)
      assert(sortedRows("SELECT * FROM mvs_idem") == before)
      assertFresh("mvs_idem", defining)
    }
  }

  test("restart: the MV definition survives the durable catalog — a " +
      "fresh registry refreshes incrementally by name") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src7")
      val defining =
        "SELECT g, count(*) AS n FROM mvs_src7 GROUP BY g"
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_persist AS $defining")
      spark.sql("INSERT INTO mvs_src7 VALUES (3000, 'g0', 0, 1.0)")
      GraftTableRegistry.clearInMemory() // simulated JVM restart
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_persist").head()
      assert(r.getString(1) == "incremental_add", r.toString)
      assertFresh("mvs_persist", defining)
    }
  }

  test("DV-only source deletes (no dir rewrite) dirty their groups") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src8")
      val defining =
        "SELECT g, count(*) AS n, min(p) AS mp FROM mvs_src8 GROUP BY g"
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_dv AS $defining")
      // keyed delete through the store API lands a deletion VECTOR —
      // no data dir moves, the signedDelta vector leg must catch it
      val (st, view) = GraftTableRegistry.lookup("mvs_src8").get
      val dirsBefore = st.manifestDirs(view).toSet
      import spark.implicits._
      st.deleteKeys(view, "k", Seq(0L, 5L, 10L).toDF("k"))
      assert(st.manifestDirs(view).toSet == dirsBefore,
        "precondition: the delete must be vector-only for this test")
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_dv").head()
      assert(r.getString(1) == "incremental_agg" && r.getLong(4) >= 1,
        r.toString)
      assertFresh("mvs_dv", defining)
    }
  }

  test("held point-delete vectors plus a VALUES MERGE re-inserting a " +
      "deleted key: agg and spj refreshes equal REFRESH FULL") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src_hv")
      spark.sql("INSERT INTO mvs_src_hv SELECT id, concat('g', id % 5), " +
        "id % 3, CAST(id AS DOUBLE) FROM range(200, 400)")
      // count(*) + sum(DOUBLE) is not additive-maintainable: the group
      // recompute path; the spj MV drops h = 1 rows through its WHERE
      val aggDef =
        "SELECT g, count(*) AS n, sum(p) AS sp FROM mvs_src_hv GROUP BY g"
      val spjDef = "SELECT k, g, p FROM mvs_src_hv WHERE h <> 1"
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_hv_agg AS $aggDef")
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_hv_spj AS $spjDef")
      val (st, view) = GraftTableRegistry.lookup("mvs_src_hv").get
      spark.sql("DELETE FROM mvs_src_hv WHERE k = 7")
      spark.sql("DELETE FROM mvs_src_hv WHERE k IN (250, 251)")
      val held = st.manifestDels(view, st.versions(view).max).map(d =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(st.root, view,
          "data", d, "keys.json")))
      assert(held.nonEmpty && held.forall(identity),
        s"precondition: the point deletes must hold their vectors: $held")
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW mvs_hv_msrc AS SELECT * " +
        "FROM VALUES (7L, 'g4', 2L, 70.5D), (12L, 'g9', 0L, 1.5D), " +
        "(900L, 'g1', 1L, 9.0D) AS s(k, g, h, p)")
      spark.sql("MERGE INTO mvs_src_hv AS t USING mvs_hv_msrc AS s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      assert(spark.sql("SELECT g FROM mvs_src_hv WHERE k = 7").head()
        .getString(0) == "g4", "precondition: key 7 is back")
      Seq("mvs_hv_agg" -> ("incremental_agg", aggDef),
          "mvs_hv_spj" -> ("incremental_spj", spjDef)).foreach {
        case (mv, (mode, defining)) =>
          val r = spark.sql(s"REFRESH MATERIALIZED VIEW $mv").head()
          assert(r.getString(1) == mode, r.toString)
          val incremental = sortedRows(s"SELECT * FROM $mv")
          assert(spark.sql(s"REFRESH MATERIALIZED VIEW $mv FULL").head()
            .getString(1) == "full_forced")
          assert(incremental == sortedRows(s"SELECT * FROM $mv"), mv)
          assertFresh(mv, defining)
      }
    }
  }

  test("mass churn falls back to a full recompute under the " +
      "maxIncremental cap") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src9")
      spark.sql("CREATE MATERIALIZED VIEW mvs_cap AS " +
        "SELECT g, count(*) AS n FROM mvs_src9 GROUP BY g")
      spark.sql("UPDATE mvs_src9 SET p = p + 1 WHERE k % 2 = 0")
      spark.conf.set("spark.graft.mv.maxIncremental", "1")
      try {
        val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_cap").head()
        assert(r.getString(1) == "full", r.toString)
      } finally spark.conf.unset("spark.graft.mv.maxIncremental")
      assertFresh("mvs_cap",
        "SELECT g, count(*) AS n FROM mvs_src9 GROUP BY g")
    }
  }

  test("signedDelta is O(delta): a bounded merge surfaces far fewer " +
      "rows than the table, and metadata eras refuse") {
    val root = freshRoot()
    withRoot(root) {
      // TWO dirs with disjoint key ranges (stats on k recorded by the
      // keyed inserts) — a one-key update must rewrite only one
      spark.sql("CREATE TABLE mvs_src10 (k BIGINT, g STRING, h BIGINT, " +
        "p DOUBLE) USING graft PRIMARY KEY k")
      spark.sql("INSERT INTO mvs_src10 SELECT id, concat('g', id % 5), " +
        "id % 3, CAST(id AS DOUBLE) FROM range(0, 100)")
      spark.sql("INSERT INTO mvs_src10 SELECT id, concat('g', id % 5), " +
        "id % 3, CAST(id AS DOUBLE) FROM range(100, 400)")
      val (st, view) = GraftTableRegistry.lookup("mvs_src10").get
      val v1 = st.versions(view).max
      spark.sql("UPDATE mvs_src10 SET p = 0 WHERE k = 7")
      val v2 = st.versions(view).max
      val aff = st.signedDelta(view, v1, v2).get
      val nAff = aff.count()
      val total = st.read(view).count()
      assert(nAff < total, s"affected $nAff of $total — not a delta")
      assert(aff.where(org.apache.spark.sql.functions.col("k") === 7)
        .count() >= 1, "the changed key's pre/post rows must surface")
      // a rename between the versions changes the projection era —
      // signedDelta refuses and the caller recomputes fully
      spark.sql("ALTER TABLE mvs_src10 RENAME COLUMN p TO price")
      val v3 = st.versions(view).max
      assert(st.signedDelta(view, v1, v3).isEmpty)
      // a same-era span (both endpoints after the rename) still serves
      assert(st.signedDelta(view, v3, v3).nonEmpty)
    }
  }

  test("MV over MV: the inner refresh's merge commits are the outer's " +
      "delta — the chain maintains incrementally end-to-end") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src13")
      // inner: per-g counts (single group col -> keyed-merge refresh,
      // so its delta commits stay bounded); outer: buckets-by-size
      val inner = "SELECT g, count(*) AS n FROM mvs_src13 GROUP BY g"
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_in AS $inner")
      val outer = "SELECT n % 2 AS parity, count(*) AS buckets, " +
        "sum(n) AS rows_total FROM mvs_in GROUP BY n % 2"
      val created =
        spark.sql(s"CREATE MATERIALIZED VIEW mvs_out AS $outer").head()
      assert(created.getString(1) == "agg", created.toString)
      spark.sql("INSERT INTO mvs_src13 VALUES (4000, 'g7', 9, 1.0)")
      spark.sql("DELETE FROM mvs_src13 WHERE g = 'g0' AND h = 0")
      val r1 = spark.sql("REFRESH MATERIALIZED VIEW mvs_in").head()
      assert(r1.getString(1) == "incremental_add", r1.toString)
      // the outer MV is count(*)+sum(BIGINT) — the additive family, so
      // the inner's merge commits fold as a signed delta, zero re-scan
      val r2 = spark.sql("REFRESH MATERIALIZED VIEW mvs_out").head()
      assert(r2.getString(1) == "incremental_add", r2.toString)
      assertFresh("mvs_out",
        s"SELECT n % 2 AS parity, count(*) AS buckets, " +
          s"sum(n) AS rows_total FROM ($inner) GROUP BY n % 2")
    }
  }

  test("SHOW CREATE TABLE on an MV emits the re-runnable " +
      "CREATE MATERIALIZED VIEW recipe") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src12")
      val defining = "SELECT g, count(*) AS n FROM mvs_src12 GROUP BY g"
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_show AS $defining")
      val stmts = spark.sql("SHOW CREATE TABLE mvs_show").collect()
        .map(_.getString(0))
      assert(stmts.length == 1 &&
        stmts.head.startsWith(
          "CREATE OR REPLACE MATERIALIZED VIEW mvs_show") &&
        stmts.head.endsWith(s"AS $defining"), stmts.mkString("\n"))
      // the recipe round-trips: drop, replay, refresh still incremental
      spark.sql("DROP MATERIALIZED VIEW mvs_show")
      spark.sql(stmts.head)
      spark.sql("INSERT INTO mvs_src12 VALUES (5000, 'g3', 0, 2.0)")
      assert(spark.sql("REFRESH MATERIALIZED VIEW mvs_show").head()
        .getString(1) == "incremental_add")
      assertFresh("mvs_show", defining)
    }
  }

  test("a vacuumed-away base version falls back to a full recompute " +
      "instead of guessing a delta") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src15")
      val defining = "SELECT g, count(*) AS n FROM mvs_src15 GROUP BY g"
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_vac AS $defining")
      // churn the source, then vacuum history past the MV's synced base
      spark.sql("UPDATE mvs_src15 SET p = p + 1 WHERE k % 3 = 0")
      spark.sql("UPDATE mvs_src15 SET p = p + 1 WHERE k % 3 = 1")
      val (st, view) = GraftTableRegistry.lookup("mvs_src15").get
      st.vacuum(view, retainVersions = 1)
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_vac").head()
      assert(r.getString(1) == "full", r.toString)
      assertFresh("mvs_vac", defining)
      // and the NEXT refresh is incremental again (synced re-pinned)
      spark.sql("UPDATE mvs_src15 SET p = p + 1 WHERE k = 5")
      assert(spark.sql("REFRESH MATERIALIZED VIEW mvs_vac").head()
        .getString(1) == "incremental_add")
    }
  }

  test("an MV is not directly writable: DML and schema ALTERs refuse, " +
      "RENAME TO carries the definition") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src14")
      spark.sql("CREATE MATERIALIZED VIEW mvs_ro AS " +
        "SELECT g, count(*) AS n FROM mvs_src14 GROUP BY g")
      Seq(
        "INSERT INTO mvs_ro VALUES ('gX', 1)",
        "UPDATE mvs_ro SET n = 0 WHERE g = 'g1'",
        "DELETE FROM mvs_ro WHERE g = 'g1'",
        "TRUNCATE TABLE mvs_ro",
        "ALTER TABLE mvs_ro ADD COLUMNS (x INT)",
        "ALTER TABLE mvs_ro DROP COLUMN n",
        "ALTER TABLE mvs_ro RENAME COLUMN n TO m",
        "CREATE OR REPLACE TABLE mvs_ro USING graft AS SELECT 1 AS a"
      ).foreach { stmt =>
        val e = intercept[IllegalArgumentException] {
          spark.sql(stmt).collect()
        }
        assert(e.getMessage.contains("MATERIALIZED VIEW"), s"$stmt -> $e")
      }
      // RENAME TO is the one mutation that composes: the definition
      // (and synced pointer) must travel with the new name
      spark.sql("ALTER TABLE mvs_ro RENAME TO mvs_ro2")
      spark.sql("INSERT INTO mvs_src14 VALUES (6000, 'g1', 0, 3.0)")
      assert(spark.sql("REFRESH MATERIALIZED VIEW mvs_ro2").head()
        .getString(1) == "incremental_add")
      assertFresh("mvs_ro2",
        "SELECT g, count(*) AS n FROM mvs_src14 GROUP BY g")
    }
  }

  private def seedAdd(tbl: String): Unit = {
    spark.sql(s"CREATE TABLE $tbl (k BIGINT, g STRING, v BIGINT) " +
      "USING graft PRIMARY KEY k")
    spark.sql(s"INSERT INTO $tbl SELECT id, concat('g', id % 4), " +
      "id * 10 FROM range(0, 100)")
    // a dedicated group with a sum-to-zero pair AND a NULL-valued row:
    // the two states plain arithmetic cannot distinguish
    spark.sql(s"INSERT INTO $tbl VALUES (500, 'gz', 5), (501, 'gz', -5), " +
      "(502, 'gz', NULL)")
  }

  test("additive agg MV: count(*)/count(col)/sum(BIGINT) fold the " +
      "signed delta exactly through inserts, updates, and deletes") {
    val root = freshRoot()
    withRoot(root) {
      seedAdd("mvs_add1")
      val defining = "SELECT g, count(*) AS n, count(v) AS nv, " +
        "sum(v) AS sv FROM mvs_add1 GROUP BY g"
      assert(spark.sql(s"CREATE MATERIALIZED VIEW mvs_addmv AS $defining")
        .head().getString(1) == "agg")
      // mixed DML incl. a brand-new group and a fold-to-legit-zero:
      // gz gains a v=0 row, so its folded sum lands EXACTLY on 0 with
      // live non-null contributors — the rehab pass must KEEP the 0
      spark.sql("INSERT INTO mvs_add1 VALUES (600, 'gnew', 7), " +
        "(503, 'gz', 0)")
      spark.sql("UPDATE mvs_add1 SET v = v + 1 WHERE k % 11 = 3")
      spark.sql("DELETE FROM mvs_add1 WHERE k % 13 = 1")
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_addmv").head()
      assert(r.getString(1) == "incremental_add", r.toString)
      assertFresh("mvs_addmv", defining)
      assert(sortedRows("SELECT sv FROM mvs_addmv WHERE g = 'gz'") ==
        Seq(Row(0L)), "legit zero must survive the rehab pass")
      // now kill gz's non-null contributors: only the NULL row remains,
      // so SQL's sum is NULL — arithmetic alone would say 0
      spark.sql("DELETE FROM mvs_add1 WHERE k IN (500, 501, 503)")
      val r2 = spark.sql("REFRESH MATERIALIZED VIEW mvs_addmv").head()
      assert(r2.getString(1) == "incremental_add", r2.toString)
      assertFresh("mvs_addmv", defining)
      assert(sortedRows("SELECT sv FROM mvs_addmv WHERE g = 'gz'") ==
        Seq(Row(null)), "all-contributors-gone must fold to NULL, not 0")
      // a NULL-sum group whose COUNT changes: the fold must land the
      // new count while keeping the NULL (a non-null-safe hazard test
      // would drop this group from the update entirely)
      spark.sql("INSERT INTO mvs_add1 VALUES (504, 'gz', NULL)")
      val rn = spark.sql("REFRESH MATERIALIZED VIEW mvs_addmv").head()
      assert(rn.getString(1) == "incremental_add", rn.toString)
      assert(sortedRows("SELECT n, sv FROM mvs_addmv WHERE g = 'gz'") ==
        Seq(Row(2L, null)), "count must move, sum must stay NULL")
      assertFresh("mvs_addmv", defining)
      // group disappearance through the fold: n hits 0 → tombstone
      spark.sql("DELETE FROM mvs_add1 WHERE g = 'gnew'")
      val r3 = spark.sql("REFRESH MATERIALIZED VIEW mvs_addmv").head()
      assert(r3.getString(1) == "incremental_add", r3.toString)
      assert(spark.sql("SELECT * FROM mvs_addmv WHERE g = 'gnew'")
        .collect().isEmpty, "a dead group must tombstone")
      assertFresh("mvs_addmv", defining)
      assert(spark.sql("REFRESH MATERIALIZED VIEW mvs_addmv").head()
        .getString(1) == "noop")
    }
  }

  test("additive crash rescue: the fold commit is txn-fenced, so a " +
      "rolled-back synced pointer re-noops instead of double-folding") {
    val root = freshRoot()
    withRoot(root) {
      seedAdd("mvs_add2")
      val defining =
        "SELECT g, count(*) AS n, sum(v) AS sv FROM mvs_add2 GROUP BY g"
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_fence AS $defining")
      spark.sql("INSERT INTO mvs_add2 VALUES (700, 'g0', 3)")
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_fence").head()
      assert(r.getString(1) == "incremental_add", r.toString)
      val before = sortedRows("SELECT * FROM mvs_fence")
      val (mvSt, mvView) = GraftTableRegistry.lookup("mvs_fence").get
      val mvVersions = mvSt.versions(mvView)
      // simulate a crash between the fold commit and the catalog bump
      GraftTableRegistry.registerProps("mvs_fence",
        GraftTableRegistry.lookupProps("mvs_fence") +
          (MaterializedView.SyncedProp -> "1"))
      val r2 = spark.sql("REFRESH MATERIALIZED VIEW mvs_fence").head()
      assert(r2.getString(1) == "noop",
        s"the fence must rescue the lost bump, not re-fold: $r2")
      assert(mvSt.versions(mvView) == mvVersions, "no extra commit")
      assert(sortedRows("SELECT * FROM mvs_fence") == before)
      assertFresh("mvs_fence", defining)
      // and the rescued pointer keeps refreshing incrementally
      spark.sql("INSERT INTO mvs_add2 VALUES (701, 'g1', 4)")
      assert(spark.sql("REFRESH MATERIALIZED VIEW mvs_fence").head()
        .getString(1) == "incremental_add")
      assertFresh("mvs_fence", defining)
    }
  }

  test("non-additive spellings demote to the group recompute: " +
      "count(DISTINCT), a sum-of-sums item, and a DOUBLE sum") {
    val root = freshRoot()
    withRoot(root) {
      seedAdd("mvs_add3")
      val cases = Seq(
        "mvs_dd" -> ("SELECT g, count(*) AS n, count(DISTINCT v) AS dv " +
          "FROM mvs_add3 GROUP BY g"),
        // the greedy regex capture for this one is `k) + sum(v` —
        // unbalanced, must demote instead of crashing the refresh
        "mvs_ss" -> ("SELECT g, count(*) AS n, sum(k) + sum(v) AS sks " +
          "FROM mvs_add3 GROUP BY g"),
        "mvs_fd" -> ("SELECT g, count(*) AS n, " +
          "sum(CAST(v AS DOUBLE)) AS sd FROM mvs_add3 GROUP BY g"))
      cases.foreach { case (mv, defining) =>
        assert(spark.sql(s"CREATE MATERIALIZED VIEW $mv AS $defining")
          .head().getString(1) == "agg", mv)
      }
      spark.sql("UPDATE mvs_add3 SET v = v + 1 WHERE k % 7 = 2")
      spark.sql("DELETE FROM mvs_add3 WHERE k % 19 = 4")
      cases.foreach { case (mv, defining) =>
        val r = spark.sql(s"REFRESH MATERIALIZED VIEW $mv").head()
        assert(r.getString(1) == "incremental_agg",
          s"$mv must take the recompute path: $r")
        assertFresh(mv, defining)
      }
    }
  }

  test("min/max fold over an insert-only window (the streaming " +
      "lambda case); any removal demotes them to the recompute") {
    val root = freshRoot()
    withRoot(root) {
      seedAdd("mvs_add5")
      val defining = "SELECT g, count(*) AS n, min(v) AS lo, " +
        "max(v) AS hi, sum(v) AS sv FROM mvs_add5 GROUP BY g"
      assert(spark.sql(s"CREATE MATERIALIZED VIEW mvs_hilo AS $defining")
        .head().getString(1) == "agg")
      // append-only: existing groups, a brand-new group, NULL values,
      // and a new global max inside one group
      spark.sql("INSERT INTO mvs_add5 VALUES (800, 'g0', 99999), " +
        "(801, 'gfresh', 7), (802, 'g1', NULL), (803, 'g2', -50)")
      val r = spark.sql("REFRESH MATERIALIZED VIEW mvs_hilo").head()
      assert(r.getString(1) == "incremental_add", r.toString)
      assertFresh("mvs_hilo", defining)
      // a removal can take an extremum with it — min/max must demote
      // to the group recompute and land the NEW extremum exactly
      spark.sql("DELETE FROM mvs_add5 WHERE k = 800")
      val r2 = spark.sql("REFRESH MATERIALIZED VIEW mvs_hilo").head()
      assert(r2.getString(1) == "incremental_agg",
        s"a delete window must not fold min/max: $r2")
      assertFresh("mvs_hilo", defining)
      // and a later pure-append window folds again
      spark.sql("INSERT INTO mvs_add5 VALUES (804, 'g3', -1)")
      assert(spark.sql("REFRESH MATERIALIZED VIEW mvs_hilo").head()
        .getString(1) == "incremental_add")
      assertFresh("mvs_hilo", defining)
    }
  }

  test("source RESTORE resurrects vectored rows — both refresh paths " +
      "stay exact through the resurrection legs") {
    val root = freshRoot()
    withRoot(root) {
      seedAdd("mvs_add4")
      val addDef =
        "SELECT g, count(*) AS n, sum(v) AS sv FROM mvs_add4 GROUP BY g"
      // avg is NOT in the additive family, so this MV pins the GROUP
      // RECOMPUTE path (its groups from signedDelta) across the restore
      val avgDef =
        "SELECT g, count(*) AS n, avg(v) AS av FROM mvs_add4 GROUP BY g"
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_res_a AS $addDef")
      spark.sql(s"CREATE MATERIALIZED VIEW mvs_res_m AS $avgDef")
      val (st, view) = GraftTableRegistry.lookup("mvs_add4").get
      import spark.implicits._
      st.deleteKeys(view, "k", Seq(0L, 3L, 41L).toDF("k")) // DV-only
      val vDel = st.versions(view).max
      Seq("mvs_res_a" -> "incremental_add",
          "mvs_res_m" -> "incremental_agg").foreach { case (mv, mode) =>
        assert(spark.sql(s"REFRESH MATERIALIZED VIEW $mv").head()
          .getString(1) == mode, mv)
      }
      assertFresh("mvs_res_a", addDef)
      assertFresh("mvs_res_m", avgDef)
      // roll the delete back: vectors vanish, dirs stay — the deleted
      // rows RESURRECT and must re-enter their groups on both paths
      st.restore(view, vDel - 1)
      val ra = spark.sql("REFRESH MATERIALIZED VIEW mvs_res_a").head()
      assert(ra.getString(1) == "incremental_add",
        s"resurrection must stay on the additive fold: $ra")
      val rm = spark.sql("REFRESH MATERIALIZED VIEW mvs_res_m").head()
      assert(rm.getString(1) == "incremental_agg",
        s"resurrection must stay incremental on the recompute path: $rm")
      assertFresh("mvs_res_a", addDef)
      assertFresh("mvs_res_m", avgDef)
      // a vector FOLD (file replaced, keys re-carried) is NOT a
      // resurrection: the additive path keeps folding exactly. The
      // intermediate refresh pins the window so the fold's removed
      // vector file is IN the delta (delsPre=[vec5], delsPost=[fold])
      st.deleteKeys(view, "k", Seq(5L).toDF("k"))
      assert(spark.sql("REFRESH MATERIALIZED VIEW mvs_res_a").head()
        .getString(1) == "incremental_add")
      spark.conf.set("spark.graft.dv.maxVectors", "1")
      try st.deleteKeys(view, "k", Seq(7L).toDF("k"))
      finally spark.conf.unset("spark.graft.dv.maxVectors")
      val rf = spark.sql("REFRESH MATERIALIZED VIEW mvs_res_a").head()
      assert(rf.getString(1) == "incremental_add", rf.toString)
      val rfm = spark.sql("REFRESH MATERIALIZED VIEW mvs_res_m").head()
      assert(rfm.getString(1) == "incremental_agg", rfm.toString)
      assertFresh("mvs_res_a", addDef)
      assertFresh("mvs_res_m", avgDef)
    }
  }

  test("DROP MATERIALIZED VIEW unbinds; REFRESH of a plain table " +
      "refuses with the not-an-MV error") {
    val root = freshRoot()
    withRoot(root) {
      seedSrc("mvs_src11")
      spark.sql("CREATE MATERIALIZED VIEW mvs_gone AS " +
        "SELECT g, count(*) AS n FROM mvs_src11 GROUP BY g")
      spark.sql("DROP MATERIALIZED VIEW mvs_gone")
      assert(GraftTableRegistry.lookup("mvs_gone").isEmpty)
      val e = intercept[IllegalArgumentException] {
        spark.sql("REFRESH MATERIALIZED VIEW mvs_src11").collect()
      }
      assert(e.getMessage.contains("not a materialized view"))
    }
  }
}
