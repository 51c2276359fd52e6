package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Closed loop, one client, over the snapshot store through SQL: a fixed
  * seeded mix of INSERT, DELETE, MERGE, REFRESH MATERIALIZED VIEW and
  * point lookups against a keyed `USING graft` table with a count/sum
  * view over it.
  */
final class StoreCommits extends Workload {
  val name = "store_commits"

  val Rows = 50000

  final case class St(dir: File, table: String, mv: String, initial: IndexedSeq[Gen.Row3])
  type State = St

  private var setups = 0

  /** REFRESH runs in MaterializedView (plans); DML and lookups in the store. */
  private def layerOf(kind: String) = if (kind == "refresh") "plans" else "snapshotstore"

  private def lit(v: Double): String = s"${v}D"
  private def values(rs: Seq[Gen.Row3]): String =
    rs.map(r => s"(${r.k}L, '${r.g}', ${lit(r.v)})").mkString(", ")

  def setup(ctx: Ctx, dir: File): St = {
    val spark = ctx.spark
    import spark.implicits._
    setups += 1
    val (t, mv) = (s"bench_t$setups", s"bench_mv$setups")
    spark.conf.set("spark.graft.store.root", new File(dir, "store").getPath)
    val initial = Gen.storeRows(ctx.seed, Rows)
    initial.map(r => (r.k, r.g, r.v)).toDF("k", "g", "v").createOrReplaceTempView("bench_seed")
    spark.sql(s"CREATE TABLE $t (k BIGINT, g STRING, v DOUBLE) USING graft PRIMARY KEY k")
    spark.sql(s"INSERT INTO $t SELECT k, g, v FROM bench_seed")
    spark.sql(s"CREATE MATERIALIZED VIEW $mv AS SELECT g, count(*) AS n, sum(v) AS s FROM $t GROUP BY g")
    spark.catalog.dropTempView("bench_seed")
    St(dir, t, mv, initial)
  }

  override def teardown(ctx: Ctx, st: St): Unit = Main.deleteTree(st.dir)

  private def dirBytes(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else {
      val fs = java.nio.file.Files.walk(f.toPath).iterator()
      var n = 0L; var b = 0L
      while (fs.hasNext) {
        val p = fs.next()
        if (java.nio.file.Files.isRegularFile(p)) { n += 1; b += java.nio.file.Files.size(p) }
      }
      (n, b)
    }

  def run(ctx: Ctx, st: St): Outcome = {
    val spark: SparkSession = ctx.spark
    val tr = ctx.tr
    val mix = new Gen.StoreMix(ctx.seed, Rows)
    val model = new Model.StoreModel(st.initial)
    val lat = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val parseMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val commitFiles, commitBytes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var modes = Seq.empty[String]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    val storeDir = new File(st.dir, "store")
    var measuring = false

    def sql(kind: String, text: String): Array[org.apache.spark.sql.Row] = {
      if (measuring && ctx.traced) {
        val p0 = System.nanoTime()
        tr.span("plans", "parse")(spark.sessionState.sqlParser.parsePlan(text))
        parseMs += (System.nanoTime() - p0) / 1e6
      }
      val before = if (ctx.traced && kind != "lookup") dirBytes(storeDir) else (0L, 0L)
      val t = System.nanoTime()
      val rows = tr.span(layerOf(kind), kind)(spark.sql(text).collect())
      if (measuring)
        lat.getOrElseUpdate(kind, scala.collection.mutable.ArrayBuffer.empty) += (System.nanoTime() - t) / 1e6
      if (measuring && ctx.traced && kind != "lookup" && kind != "refresh") {
        val after = dirBytes(storeDir)
        commitFiles += (after._1 - before._1).toDouble
        commitBytes += (after._2 - before._2).toDouble
      }
      rows
    }

    def round(): Unit =
      mix.round().foreach { op =>
        attempted += 1
        val ok = try {
          tr.span("bench", op.kind, tr.newOp()) {
            op match {
              case Gen.Insert(rs) => sql("insert", s"INSERT INTO ${st.table} VALUES ${values(rs)}")
              case Gen.Delete(k) => sql("delete", s"DELETE FROM ${st.table} WHERE k = $k")
              case Gen.Merge(rs) =>
                spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW bench_msrc AS " +
                  s"SELECT * FROM VALUES ${values(rs)} AS s(k, g, v)")
                sql("merge", s"MERGE INTO ${st.table} AS t USING bench_msrc AS s ON t.k = s.k " +
                  "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
              case Gen.Refresh =>
                val mode = sql("refresh", s"REFRESH MATERIALIZED VIEW ${st.mv}").head.getString(1)
                if (measuring) modes :+= mode
              case Gen.Lookup(k) =>
                val got = sql("lookup", s"SELECT k, g, v FROM ${st.table} WHERE k = $k")
                  .map(r => Gen.Row3(r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
                if (got != model.rows.get(k).toSeq) errors += s"lookup $k returned $got, want ${model.rows.get(k)}"
            }
            model(op)
          }
          true
        } catch { case e: Exception => errors += s"${op.kind} failed: $e"; false }
        if (!ok) failed += 1
      }

    // one unmeasured round warms every statement's code path
    round()
    ctx.beginWindow()
    measuring = true
    val loopStart = System.nanoTime()
    val end = loopStart + (ctx.seconds * 1e9).toLong
    while (System.nanoTime() < end) round()
    val loopS = (System.nanoTime() - loopStart) / 1e9
    measuring = false

    // final state: the table and a freshly refreshed view against the model
    spark.sql(s"REFRESH MATERIALIZED VIEW ${st.mv}").collect()
    val table = spark.sql(s"SELECT k, g, v FROM ${st.table}").collect()
      .map(r => Gen.Row3(r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val tableErrs = Model.checkTable(model.rows, table)
    val mvErrs = Model.checkView(model.view, spark.sql(s"SELECT g, n, s FROM ${st.mv}").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap)
    errors ++= tableErrs ++ mvErrs
    attempted += 2
    failed += Seq(tableErrs, mvErrs).count(_.nonEmpty)

    def med(k: String) = Stats.medianOr(lat.get(k).map(_.toSeq).getOrElse(Nil), 0.0)
    val dml = Seq("insert", "delete", "merge").map(k => lat.get(k).map(_.size).getOrElse(0)).sum
    val layer = scala.collection.mutable.Map.empty[String, Double]
    if (ctx.traced) {
      val v = ctx.view()
      def jobsPer(kind: String) =
        Stats.mean(v.named(layerOf(kind), kind).map(s => v.under(s.id).jobs.toDouble))
      layer ++= Seq(
        "sql.parse_ms" -> Stats.medianOr(parseMs.toSeq, 0.0),
        "sql.exec_ms" -> Stats.medianOr(lat.values.flatten.toSeq, 0.0),
        "store.jobs_per_insert" -> jobsPer("insert"), "store.jobs_per_delete" -> jobsPer("delete"),
        "store.jobs_per_merge" -> jobsPer("merge"), "store.jobs_per_refresh" -> jobsPer("refresh"),
        "store.files_per_commit" -> Stats.mean(commitFiles.toSeq),
        "store.bytes_per_commit" -> Stats.mean(commitBytes.toSeq),
        "store.space_amp" -> dirBytes(storeDir)._2.toDouble / model.liveBytes,
        "mv.incremental_ratio" ->
          (if (modes.isEmpty) 0.0 else modes.count(_.startsWith("incremental")).toDouble / modes.size))
    }
    // one round's commit cost: the per-kind medians, summed
    val commitMs = med("insert") + med("delete") + med("merge")
    Outcome(attempted, failed, errors.toSeq, Nil, primary = commitMs,
      named = Seq(("dml_ops_per_s", dml / loopS, "1/s"), ("insert_p50_ms", med("insert"), "ms"),
        ("delete_p50_ms", med("delete"), "ms"), ("merge_p50_ms", med("merge"), "ms"),
        ("mv_refresh_p50_ms", med("refresh"), "ms"), ("lookup_p50_ms", med("lookup"), "ms"),
        ("statements", attempted.toDouble - 2, "count")),
      layer = layer.toMap,
      samples = lat.map { case (k, xs) => s"${k}_ms" -> xs.toSeq }.toMap)
  }
}
