package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17: [[SnapshotStore.signedDelta]] — the EXACT signed multiset
  * delta the additive materialized-view fold consumes. The invariant
  * under test, for every version pair (from, to):
  *
  *   visible(from) ⊎ delta == visible(to)    (as multisets)
  *
  * across every commit family that can land between the versions:
  * blind appends, copy-on-write keyed merges, vector-only deletes, a
  * vector FOLD (replaces vector files, re-carries the keys), and a
  * RESTORE (removes vectors while keeping dirs — resurrection).
  */
class SignedDeltaSpec extends SparkSpec {

  import spark.implicits._

  private def freshStore(tag: String): SnapshotStore = {
    val root = Scratch.processScoped(s"sd_$tag", "spec")
    Scratch.deleteRecursively(new java.io.File(root))
    new SnapshotStore(spark, root)
  }

  /** Net multiset: row-string → count, from (df, +1) legs and the
    * delta's own `_graft_sign`.
    */
  private def net(legs: (DataFrame, Int)*): Map[String, Long] = {
    val m = scala.collection.mutable.Map.empty[String, Long]
    legs.foreach { case (df, defSign) =>
      val hasSign = df.columns.contains("_graft_sign")
      df.collect().foreach { r =>
        val (key, s) =
          if (hasSign)
            (r.toSeq.dropRight(1).mkString("|"), r.getAs[Int]("_graft_sign"))
          else (r.toSeq.mkString("|"), defSign)
        m(key) = m.getOrElse(key, 0L) + s
      }
    }
    m.filter(_._2 != 0L).toMap
  }

  private def assertIdentity(st: SnapshotStore, view: String,
                             fromV: Long, toV: Long): Unit = {
    val d = st.signedDelta(view, fromV, toV)
    assert(d.nonEmpty, s"signedDelta($fromV,$toV) refused unexpectedly")
    val lhs = net(st.read(view, Some(fromV)) -> 1, d.get -> 0)
    val rhs = net(st.read(view, Some(toV)) -> 1)
    assert(lhs == rhs,
      s"v$fromV ⊎ delta != v$toV\n lhs=$lhs\n rhs=$rhs")
  }

  test("multiset identity holds across append, merge rewrite, DV " +
      "delete, DV fold, and restore — pairwise and across long spans") {
    val st = freshStore("ident")
    val view = "t"
    // v1: two dirs with keyed stats so merges/deletes can prune
    st.commit(view, (0L until 40L).map(k => (k, k % 4, s"r$k"))
      .toDF("k", "g", "s"), overwrite = false, statsCols = Seq("k"))
    st.commit(view, (40L until 80L).map(k => (k, k % 4, s"r$k"))
      .toDF("k", "g", "s"), overwrite = false, statsCols = Seq("k"))
    // v3: keyed merge — rewrites the hit dir (unchanged co-residents
    // must cancel between the -1 and +1 legs)
    st.mergeInto(view, Seq((3L, 9L, "upd3"), (100L, 0L, "new100"))
      .toDF("k", "g", "s"), "k", statsCols = Seq("k"))
    // v4: vector-only delete
    st.deleteKeys(view, "k", Seq(7L, 41L).toDF("k"))
    // v5: a second delete under maxVectors=1 forces a FOLD — the old
    // vector file is REMOVED from the manifest and its keys re-carried
    spark.conf.set("spark.graft.dv.maxVectors", "1")
    try st.deleteKeys(view, "k", Seq(55L).toDF("k"))
    finally spark.conf.unset("spark.graft.dv.maxVectors")
    // v6: restore to v3 — vectors vanish while every dir stays: the
    // suppressed keys RESURRECT (+1 from kept dirs)
    val vs0 = st.versions(view)
    st.restore(view, vs0(2))
    val vs = st.versions(view)
    assert(vs.size == 6, s"expected 6 versions, got $vs")
    // every adjacent pair, plus spans that cross the fold and restore
    vs.zip(vs.tail).foreach { case (a, b) => assertIdentity(st, view, a, b) }
    assertIdentity(st, view, vs.head, vs.last)
    assertIdentity(st, view, vs(1), vs(4)) // merge→fold span
    assertIdentity(st, view, vs(3), vs(5)) // delete→restore span
    // the restore window really is a pure resurrection: positive signs
    // only, exactly the vectored keys
    val d = st.signedDelta(view, vs(4), vs(5)).get
    val signs = d.select(col("_graft_sign")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(signs == Set(1), s"restore delta must be +1-only: $signs")
    assert(d.select(col("k")).collect().map(_.getLong(0)).toSet ==
      Set(7L, 41L, 55L))
  }

  test("a row inserted AND vector-deleted inside one window nets zero") {
    val st = freshStore("net0")
    val view = "t"
    st.commit(view, Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      overwrite = false, statsCols = Seq("k"))
    val v1 = st.versions(view).max
    st.commit(view, Seq((3L, "c")).toDF("k", "s"),
      overwrite = false, statsCols = Seq("k"))
    st.deleteKeys(view, "k", Seq(3L).toDF("k"))
    val v3 = st.versions(view).max
    assertIdentity(st, view, v1, v3)
    val d = st.signedDelta(view, v1, v3).get
    assert(d.where(col("k") === 3L).count() == 0,
      "the intra-window insert+delete must cancel, not appear ±1")
  }

  test("refusals: unretained base and a " +
      "renamed-column era change") {
    val st = freshStore("refuse")
    val view = "t"
    st.commit(view, Seq((1L, "a")).toDF("k", "s"),
      overwrite = false, statsCols = Seq("k"))
    st.commit(view, Seq((2L, "b")).toDF("k", "s"),
      overwrite = false, statsCols = Seq("k"))
    val v2 = st.versions(view).max
    assert(st.signedDelta(view, v2 - 1, v2).nonEmpty)
    assert(st.signedDelta(view, 999L, v2).isEmpty,
      "an unretained base version must refuse")
    st.renameColumn(view, "s", "s2")
    val v3 = st.versions(view).max
    assert(st.signedDelta(view, v2 - 1, v3).isEmpty,
      "a rename between the eras must refuse")
    assert(st.signedDelta(view, v3, v3).nonEmpty,
      "a same-era span still serves")
  }
}
