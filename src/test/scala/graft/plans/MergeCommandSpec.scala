package graft.plans

import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** MERGE is one statement regex and one command: every clause list,
  * the upsert-all pair included, compiles through the same
  * [[GraftMergeCommand]], whose plan follows from the clauses — the
  * unconditional `UPDATE SET * / INSERT *` pair never joins the target,
  * and a matched-DELETE condition that reads only the source joins the
  * target's distinct key column alone.
  */
class MergeCommandSpec extends SparkSpec {
  import spark.implicits._

  test("GraftSqlParser holds one MERGE command and one MERGE statement regex") {
    val src = Paths.get("src/main/scala/graft/plans/GraftSqlParser.scala")
    assert(Files.isRegularFile(src), s"$src not found")
    // comments may name the old forms; only code counts
    val code = Files.readString(src)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")
    val commands = """case class (\w*Merge\w*Command)\b""".r
      .findAllMatchIn(code).map(_.group(1)).toSeq
    assert(commands == Seq("GraftMergeCommand"), commands.mkString(", "))
    // a statement regex opens with the MERGE INTO head; the `USING (`
    // hoist head is the one other regex that names it
    val regexes = """private val (\w+) =\s*\(?\s*\(?\"\"\"\(\?is\)\^\(?\\s\*MERGE\\s\+INTO""".r
      .findAllMatchIn(code).map(_.group(1)).toSeq
    assert(regexes.sorted == Seq("MergeUsingParenRe", "MergeWhenRe"),
      regexes.mkString(", "))
  }

  private var n = 0
  /** A fresh 200-row keyed table in two dirs, and a 20-row temp-view
    * source: 10 keys match, 10 are new; `del` is true on 5 of each.
    */
  private def fresh(): (graft.sources.SnapshotStore, String) = {
    n += 1
    val root = graft.sources.Scratch.processScoped("merge_command_spec", "spec") +
      s"/case$n"
    val name = s"mc$n"
    val st = new graft.sources.SnapshotStore(spark, root)
    st.commit("t", (0L until 100L).map(k => (k, k.toDouble, "a")).toDF("k", "p", "seg"),
      overwrite = true, statsCols = Seq("k"))
    st.commit("t", (100L until 200L).map(k => (k, k.toDouble, "a")).toDF("k", "p", "seg"),
      overwrite = false, statsCols = Seq("k"))
    GraftTableRegistry.register(name, st, "t", keyCol = "k")
    ((190L until 210L).map(k => (k, -k.toDouble, "s", k % 2 == 0)))
      .toDF("k", "p", "seg", "del").createOrReplaceTempView(s"${name}_src")
    (st, name)
  }

  private def rows(st: graft.sources.SnapshotStore) =
    st.read("t").select("k", "p").as[(Long, Double)].collect().toMap

  /** Spark jobs `sql` submits. */
  private def jobs(sql: String): Long = jobsIn(spark.sql(sql).collect())

  // the matched-DELETE bound is the count its variant paid on its own
  // dedicated command, before every form compiled through the clause
  // list; the upsert-all bound is the count its local source pays
  test("the unconditional upsert-all MERGE joins no target: at most 1 job") {
    val (st, name) = fresh()
    val j = jobs(s"""MERGE INTO $name AS t USING ${name}_src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(j <= 1, s"$j jobs")
    val m = rows(st)
    assert(m.size == 210 && m(195L) == -195.0 && m(205L) == -205.0 &&
      m(5L) == 5.0, m.toString)
  }

  test("the matched-DELETE upsert MERGE joins only the target's keys: at most 10 jobs") {
    val (st, name) = fresh()
    val j = jobs(s"""MERGE INTO $name AS t USING ${name}_src AS s ON t.k = s.k
      WHEN MATCHED AND del THEN DELETE
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(j <= 10, s"$j jobs")
    val m = rows(st)
    // matched: even keys deleted, odd ones updated; unmatched: all
    // inserted, del or not (the flag applies to MATCHED rows only)
    assert(!m.contains(190L) && m(191L) == -191.0, m.toString)
    assert(m(200L) == -200.0 && m(201L) == -201.0, m.toString)
    assert(m.size == 200 - 5 + 10, m.size.toString)
  }

  test("an upsert-all over an unaliased USING (SELECT …) source needs no alias") {
    val (st, name) = fresh()
    spark.sql(s"""MERGE INTO $name USING (SELECT k, p, seg FROM ${name}_src
      WHERE k >= 200) ON $name.k = k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val m = rows(st)
    assert(m.size == 210 && m(200L) == -200.0 && m(199L) == 199.0, m.toString)
  }

  test("a matched-DELETE flag true on an unmatched source row still inserts it") {
    val (st, name) = fresh()
    Seq((7L, 70.0, "s", true), (500L, 5.0, "s", true))
      .toDF("k", "p", "seg", "del").createOrReplaceTempView(s"${name}_del")
    spark.sql(s"""MERGE INTO $name AS t USING ${name}_del AS s ON t.k = s.k
      WHEN MATCHED AND s.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val m = rows(st)
    assert(!m.contains(7L), "matched and flagged: deleted")
    assert(m.get(500L).contains(5.0), "unmatched and flagged: inserted")
  }

  test("a VALUES-sourced upsert-all MERGE into a table holding a point-delete " +
      "vector probes its keys and the vector on the driver: 1 job") {
    val (st, name) = fresh()
    spark.sql(s"DELETE FROM $name WHERE k = 5")
    val v = st.versions("t").max
    assert(st.manifestDels("t", v).nonEmpty, "the DELETE must leave a vector")
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ${name}_vals AS
      SELECT * FROM VALUES (150L, -150.0D, 's'), (199L, -199.0D, 's'),
      (300L, -300.0D, 's') AS s(k, p, seg)""")
    val j = jobs(s"""MERGE INTO $name AS t USING ${name}_vals AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(j == 1, s"$j jobs")
    // no source key is in the vector: it carries as it stands
    assert(st.manifestDels("t", v + 1) == st.manifestDels("t", v))
    val m = rows(st)
    assert(m.size == 200 && !m.contains(5L) && m(150L) == -150.0 &&
      m(199L) == -199.0 && m(300L) == -300.0 && m(4L) == 4.0, m.toString)
  }
}
