package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-15 store hardening: manifest commit timestamps (TIMESTAMP AS
  * OF's anchor), fence-only publishes for zero-effect txn writes, and
  * the stats-pruned delete probe.
  */
class StoreHardeningSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshStore(): (SnapshotStore, String) = {
    n += 1
    val root = Scratch.processScoped("store_hard_spec", "spec") + s"/case$n"
    (new SnapshotStore(spark, root), root)
  }

  test("commit timestamps strictly ascend with versions (monotonic guard)") {
    val (st, _) = freshStore()
    // commits land far faster than the clock ticks distinguishably —
    // without the max(parent+1, now) guard, same-millisecond commits
    // would tie and "latest at-or-before t" would be ambiguous
    (1 to 6).foreach(i =>
      st.commit("t", Seq((i, s"v$i")).toDF("k", "v"), overwrite = false))
    val ts = (1L to 6L).map(st.commitTimestamp("t", _))
    assert(ts == ts.sorted && ts.distinct == ts, s"not strictly ascending: $ts")
  }

  test("versionAtTimestamp resolves latest-at-or-before; too-early fails loudly") {
    val (st, _) = freshStore()
    st.commit("t", Seq((1, "a")).toDF("k", "v"), overwrite = true)
    st.commit("t", Seq((2, "b")).toDF("k", "v"), overwrite = false)
    st.commit("t", Seq((3, "c")).toDF("k", "v"), overwrite = false)
    val t1 = st.commitTimestamp("t", 1L)
    val t2 = st.commitTimestamp("t", 2L)
    assert(st.versionAtTimestamp("t", t1) == 1L)
    assert(st.versionAtTimestamp("t", t2) == 2L)
    assert(st.versionAtTimestamp("t", t2 - 1) == 1L) // between commits
    assert(st.versionAtTimestamp("t", t2 + (1L << 40)) == 3L) // far future = latest
    val ex = intercept[IllegalArgumentException](
      st.versionAtTimestamp("t", t1 - 10))
    assert(ex.getMessage.contains("predates"), ex.getMessage)
  }

  test("a zero-match txn delete publishes a fence-only version (exactly-once for empty batches)") {
    val (st, _) = freshStore()
    st.commit("t", Seq((1, "a"), (2, "b")).toDF("k", "v"), overwrite = true,
      statsCols = Seq("k"))
    // nothing matches, but the txn must still land: a replay of txn 7
    // later (against newer data!) has to be recognized and skipped
    val v = st.deleteWhereOnce("t", "k", col("k") === 999, txnId = 7L)
    assert(v.contains(2L), s"expected a fence-only v2, got $v")
    assert(st.read("t").count() == 2L, "fence-only: no rows deleted")
    assert(st.appliedTxns("t").contains(7L))
    // the replay is now a no-op even though a matching row appeared
    st.commit("t", Seq((999, "z")).toDF("k", "v"), overwrite = false)
    assert(st.deleteWhereOnce("t", "k", col("k") === 999, txnId = 7L).isEmpty)
    assert(st.read("t").count() == 3L, "replayed txn must not re-execute")
    // an UN-fenced zero-match delete still publishes nothing
    assert(st.deleteWhere("t", "k", col("k") === 888) == st.versions("t").max)
  }

  test("the delete probe prunes its input dirs by stats (narrow delete on a big table)") {
    val (st, _) = freshStore()
    // three key-disjoint dirs with key stats; force the probe on
    spark.conf.set("spark.graft.dv.rewriteMinBytes", "1")
    try {
      st.commit("t", (1 to 100).map(i => (i, s"v$i")).toDF("k", "v"),
        overwrite = true, statsCols = Seq("k"))
      st.commit("t", (101 to 200).map(i => (i, s"v$i")).toDF("k", "v"),
        overwrite = false, statsCols = Seq("k"))
      st.commit("t", (201 to 300).map(i => (i, s"v$i")).toDF("k", "v"),
        overwrite = false, statsCols = Seq("k"))
      // a narrow keyed delete: only the middle dir can match — the
      // probe and the key scan must read just that dir, and the
      // escalation fraction is local to it (50/100 > 0.3 ⇒ rewrite of
      // ONLY that dir; the other two carry by name)
      val before = st.manifestDirs("t").toSet
      st.deleteWhere("t", "k", col("k") >= 120 && col("k") < 170)
      val after = st.manifestDirs("t").toSet
      assert((before -- after).size == 1, "exactly the middle dir rewrote")
      assert((before & after).size == 2, "the two untouched dirs carried by name")
      assert(st.manifestDels("t", st.versions("t").max).isEmpty,
        "the escalated delete publishes no vector")
      assert(st.read("t").count() == 250L)
      // a delete no dir can hold: zero jobs, zero published versions
      val v0 = st.versions("t").max
      assert(st.deleteWhere("t", "k", col("k") === 9999) == v0)
      assert(st.versions("t").max == v0)
    } finally spark.conf.unset("spark.graft.dv.rewriteMinBytes")
  }

  test("predicate-bound pruning is conservative: statless dirs and non-range predicates always read") {
    val (st, _) = freshStore()
    spark.conf.set("spark.graft.dv.rewriteMinBytes", "1")
    try {
      // NO statsCols: the probe cannot prune, the delete must still work
      st.commit("t", (1 to 50).map(i => (i, s"v$i")).toDF("k", "v"),
        overwrite = true)
      st.commit("t", (51 to 100).map(i => (i, s"v$i")).toDF("k", "v"),
        overwrite = false)
      st.deleteWhere("t", "k", col("v") === "v60") // non-range-extractable
      assert(st.read("t").count() == 99L)
      st.deleteWhere("t", "k", col("k") <= 10)
      assert(st.read("t").count() == 89L)
    } finally spark.conf.unset("spark.graft.dv.rewriteMinBytes")
  }
}
