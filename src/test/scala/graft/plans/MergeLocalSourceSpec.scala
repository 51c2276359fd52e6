package graft.plans

import graft.SparkSpec
import graft.sources.SnapshotStore
import org.apache.spark.sql.DataFrame

/** A MERGE whose source rows already sit on the driver (a VALUES temp
  * view: its optimized plan is a LocalRelation) answers its key
  * questions there — cardinality, dir skipping, the shadowed-row
  * filter, the deletion-vector carry. Each case runs the same MERGE
  * twice on identically built tables: once from the VALUES view, once
  * from the same rows read back from parquet, which takes the
  * distributed plans. The outcomes must match: the same table row for
  * row, or the same refusal.
  */
class MergeLocalSourceSpec extends SparkSpec {

  private val upsertAll =
    "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"

  private var n = 0
  private def withRoot[T](body: => T): T = {
    n += 1
    val root = graft.sources.Scratch.processScoped("merge_local_spec", "spec") +
      s"/case$n"
    spark.conf.set("spark.graft.store.root", root)
    try body finally spark.conf.unset("spark.graft.store.root")
  }

  private def tableRows(t: String): Seq[String] =
    spark.sql(s"SELECT * FROM $t").collect().map(_.toString).toSeq.sorted

  /** The messages of `e`'s cause chain, joined. */
  private def refusal(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  /** Build two tables with `setup` (each statement's `%t` names the
    * table), MERGE `values` (a VALUES row list with column names `cols`)
    * into each — from the VALUES view, and from its rows read back from
    * parquet — and return each side's outcome: Right(rows after), or
    * Left(refusal message) with the table unchanged.
    */
  private def both(setup: Seq[String], cols: String, values: String,
                   clauses: String = upsertAll)
      : (Either[String, Seq[String]], Either[String, Seq[String]]) = withRoot {
    val tag = s"mls$n"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${tag}_vals AS " +
      s"SELECT * FROM VALUES $values AS s($cols)")
    val local = spark.table(s"${tag}_vals")
    val path = graft.sources.Scratch.processScoped("merge_local_spec", "src") +
      s"/$tag"
    local.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(s"${tag}_pq")
    def run(t: String, src: String, srcDf: DataFrame, wantLocal: Boolean) = {
      assert(SnapshotStore.isLocal(srcDf) == wantLocal, src)
      setup.foreach(q => spark.sql(q.replace("%t", t)))
      val before = tableRows(t)
      val out = scala.util.Try(spark.sql(
        s"MERGE INTO $t AS t USING $src AS s ON t.k = s.k $clauses").collect())
      out.toEither.left.map { e =>
        assert(tableRows(t) == before, s"$t changed by a refused MERGE")
        refusal(e).replace(t, "%t")
      }.map(_ => tableRows(t))
    }
    (run(s"${tag}_l", s"${tag}_vals", local, wantLocal = true),
      run(s"${tag}_p", s"${tag}_pq", spark.table(s"${tag}_pq"), wantLocal = false))
  }

  private val bigintTable =
    "CREATE TABLE %t (k BIGINT, g STRING, v DOUBLE) USING graft PRIMARY KEY k"

  test("a NULL-keyed source row lands beside a NULL-keyed target row") {
    val (l, p) = both(Seq(bigintTable,
      "INSERT INTO %t VALUES (NULL, 'n', 1.0D), (3L, 'a', 3.0D)",
      "INSERT INTO %t VALUES (7L, 'a', 7.0D)"),
      "k, g, v", "(CAST(NULL AS BIGINT), 'x', 9.0D), (3L, 'b', 30.0D), (8L, 'b', 8.0D)")
    assert(l == p, s"local $l vs parquet $p")
    assert(l == Right(Seq("[3,b,30.0]", "[7,a,7.0]", "[8,b,8.0]",
      "[null,n,1.0]", "[null,x,9.0]")), l.toString)
    // a source whose only key is NULL shadows no target row
    val (l1, p1) = both(Seq(bigintTable,
      "INSERT INTO %t VALUES (NULL, 'n', 1.0D), (3L, 'a', 3.0D)"),
      "k, g, v", "(CAST(NULL AS BIGINT), 'x', 9.0D)")
    assert(l1 == p1, s"local $l1 vs parquet $p1")
    assert(l1 == Right(Seq("[3,a,3.0]", "[null,n,1.0]", "[null,x,9.0]")), l1.toString)
    // two NULL-keyed source rows count as one repeated key, as SQL's
    // GROUP BY counts them
    val (l2, p2) = both(Seq(bigintTable), "k, g, v",
      "(CAST(NULL AS BIGINT), 'x', 1.0D), (CAST(NULL AS BIGINT), 'y', 2.0D)")
    assert(l2.isLeft && l2 == p2, s"local $l2 vs parquet $p2")
    assert(l2.left.exists(_.contains("source has 2 rows for key `null`")), l2.toString)
  }

  test("duplicate source keys refuse with the same message") {
    val (l, p) = both(Seq(bigintTable, "INSERT INTO %t VALUES (1L, 'a', 1.0D)"),
      "k, g, v", "(1L, 'b', 2.0D), (4L, 'b', 4.0D), (4L, 'c', 5.0D)")
    assert(l.isLeft && l == p, s"local $l vs parquet $p")
    assert(l.left.exists(_.contains("source has 2 rows for key `4`")), l.toString)
  }

  test("an upsert after a delete resurrects the row; other deletes hold") {
    val (l, p) = both(Seq(bigintTable,
      "INSERT INTO %t VALUES (1L, 'a', 1.0D), (2L, 'a', 2.0D), (3L, 'a', 3.0D)",
      "DELETE FROM %t WHERE k = 2", "DELETE FROM %t WHERE k = 3"),
      "k, g, v", "(2L, 'b', 20.0D), (4L, 'b', 4.0D)")
    assert(l == p, s"local $l vs parquet $p")
    assert(l == Right(Seq("[1,a,1.0]", "[2,b,20.0]", "[4,b,4.0]")), l.toString)
  }

  test("keys above 2^53 at a dir-stats boundary update in place") {
    // two dirs, [2^53, 2^53+1] and [2^53+2, 2^53+4]: the source updates
    // each dir's boundary key and inserts a key inside the second's range
    val (l, p) = both(Seq(bigintTable,
      "INSERT INTO %t VALUES (9007199254740992L, 'a', 0.0D), (9007199254740993L, 'a', 1.0D)",
      "INSERT INTO %t VALUES (9007199254740994L, 'a', 2.0D), (9007199254740996L, 'a', 4.0D)"),
      "k, g, v", "(9007199254740993L, 'b', 10.0D), (9007199254740994L, 'b', 20.0D), " +
        "(9007199254740995L, 'b', 30.0D)")
    assert(l == p, s"local $l vs parquet $p")
    assert(l == Right(Seq("[9007199254740992,a,0.0]", "[9007199254740993,b,10.0]",
      "[9007199254740994,b,20.0]", "[9007199254740995,b,30.0]",
      "[9007199254740996,a,4.0]")), l.toString)
  }

  test("a STRING key updates and inserts") {
    val (l, p) = both(Seq(
      "CREATE TABLE %t (k STRING, v DOUBLE) USING graft PRIMARY KEY k",
      "INSERT INTO %t VALUES ('apple', 1.0D), ('pear', 2.0D)",
      "INSERT INTO %t VALUES ('zebra', 3.0D)"),
      "k, v", "('pear', 20.0D), ('quince', 5.0D), ('Apple', 6.0D)")
    assert(l == p, s"local $l vs parquet $p")
    assert(l == Right(Seq("[Apple,6.0]", "[apple,1.0]", "[pear,20.0]",
      "[quince,5.0]", "[zebra,3.0]")), l.toString)
  }

  test("a DECIMAL literal lands in a DOUBLE column at its value") {
    val (l, p) = both(Seq(bigintTable, "INSERT INTO %t VALUES (1L, 'a', 1.0D)"),
      "k, g, v", "(1L, 'b', 40.0), (2L, 'b', 2.5)")
    assert(l == p, s"local $l vs parquet $p")
    assert(l == Right(Seq("[1,b,40.0]", "[2,b,2.5]")), l.toString)
  }

  test("an upsert-all MERGE from VALUES that violates a CHECK constraint " +
      "refuses with its message and leaves the table unchanged") {
    val (l, p) = both(Seq(bigintTable, "INSERT INTO %t VALUES (1L, 'a', 1.0D)",
      "ALTER TABLE %t ADD CONSTRAINT vpos CHECK (v >= 0)"),
      "k, g, v", "(1L, 'b', 5.0D), (2L, 'b', -2.0D)")
    Seq(l, p).foreach(o => assert(
      o.left.exists(_.contains("CHECK constraint `vpos` (v >= 0) violated")), o.toString))
  }
}
