package graft.sources

import graft.SparkSpec

/** SnapshotStore's dir-list schema cache is bounded by least-recent
  * use: a dir list read often keeps planning with no footer job however
  * many other lists pass through the cache.
  */
class SchemaCacheSpec extends SparkSpec {
  import spark.implicits._

  test("a dir list in use still hits after 513 distinct keys") {
    val st = new SnapshotStore(spark, Scratch.processScoped("schema_cache_spec", "spec"))
    (1 to 40).foreach(k => st.commit("t", Seq((k, k.toDouble)).toDF("k", "v"),
      overwrite = k == 1, statsCols = Seq("k")))
    // each range keeps its own dirs: a distinct dir list, a distinct key
    def read(lo: Int, hi: Int) = st.readPruned("t", "k", lo.toString, hi.toString)
    assert(read(1, 2).count() == 2)
    val others = for (len <- 3 to 32; lo <- 1 to 41 - len) yield (lo, lo + len - 1)
    // 520 other lists on top of the 40 dir seeds; the one in use is
    // re-read after every ten, so it is never far from the most recent
    val jobs = others.take(520).grouped(10).map { g =>
      g.foreach { case (lo, hi) => read(lo, hi) }
      jobsIn(read(1, 2))
    }.sum
    assert(jobs == 0)
  }
}
