package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** K1-K4 view semantics: append, overwrite, dynamic-partition merge,
  * and the K4 read side (append + same key => last-write-wins per key);
  * reads planned with no job, and read exactly as `spark.read.parquet`
  * reads the view's dir.
  */
class ViewStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft_vs_").toString
  private lazy val store = new ViewStore(spark, root)

  test("K4: append + latestPerKey resolves last-write-wins") {
    store.append("serving_t", Seq(("2026-08-10", 1L, 100.0)).toDF("Date", "seq", "pred"), "Date")
    store.append("serving_t", Seq(("2026-08-10", 2L, 101.5), ("2026-08-11", 1L, 99.0))
      .toDF("Date", "seq", "pred"), "Date")
    assert(store.read("serving_t").count() == 3) // raw append keeps history
    val latest = store.latestPerKey("serving_t", "Date", "seq")
      .select("Date", "pred").as[(String, Double)].collect().toMap
    assert(latest == Map("2026-08-10" -> 101.5, "2026-08-11" -> 99.0))
  }

  test("K2 merge replaces only touched partitions") {
    store.merge("speed_t", Seq(("2026-08-10", 1.0), ("2026-08-11", 2.0)).toDF("Date", "v"), "Date")
    store.merge("speed_t", Seq(("2026-08-11", 20.0)).toDF("Date", "v"), "Date")
    val got = store.read("speed_t").as[(Double, String)].collect().toMap.map(_.swap)
    assert(got == Map("2026-08-10" -> 1.0, "2026-08-11" -> 20.0))
  }

  test("K3 overwrite rewrites the whole view") {
    store.overwrite("batch_t", Seq(("2026-08-10", 1.0)).toDF("Date", "v"), "Date")
    store.overwrite("batch_t", Seq(("2026-08-12", 3.0)).toDF("Date", "v"), "Date")
    assert(store.read("batch_t").select("Date").as[String].collect().toSeq == Seq("2026-08-12"))
  }

  test("S3 range scan partition-prunes") {
    store.overwrite("pruned_t",
      (1 to 9).map(i => (f"2026-08-0$i", i.toDouble)).toDF("Date", "v"), "Date")
    val scan = store.rangeScan("pruned_t", "Date", "2026-08-03", "2026-08-05")
    assert(scan.count() == 3)
    // pruning visible in the plan: partition filters on Date
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") && plan.contains("Date"), plan)
  }

  private def days(from: Int, n: Int): Seq[String] =
    (from until from + n).map(i => java.time.LocalDate.of(2026, 1, 1).plusDays(i).toString)

  /** `store.read(view)` against `spark.read.parquet` of the view's dir:
    * the same schema (names, order, types, nullability) and the same
    * row multiset.
    */
  private def assertReadsAsParquet(view: String): Unit = {
    val got = store.read(view)
    val want = spark.read.parquet(s"$root/$view")
    assert(got.schema == want.schema, s"\n${got.schema.treeString}\n${want.schema.treeString}")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }.toString).sorted.toSeq
    assert(rows(got) == rows(want))
  }

  /** What a view dir can hold beside its data: a dynamic-partition
    * overwrite's staging dir mid-write (with a real data file in it),
    * `_SUCCESS` markers and `.crc` sidecars (not parquet: read as data,
    * either would fail the scan).
    */
  private def litter(view: String): Unit = {
    val dir = new File(root, view)
    val first = dir.listFiles().filter(_.getName.startsWith("Date=")).minBy(_.getName)
    val part = first.listFiles().find(_.getName.endsWith(".parquet")).get
    val staged = new File(dir, s".spark-staging-0/${first.getName}")
    staged.mkdirs()
    Files.copy(part.toPath, new File(staged, part.getName).toPath)
    Files.writeString(new File(first, "_SUCCESS").toPath, "x")
    Files.writeString(new File(first, ".part-0.crc").toPath, "x")
    Files.writeString(new File(dir, "_SUCCESS").toPath, "")
  }

  test("read and rangeScan of a 45-partition view submit no job before an action") {
    val d = days(0, 45)
    store.overwrite("wide_t", d.map(x => (x, 1.0)).toDF("Date", "v"), "Date")
    litter("wide_t")
    assert(jobsIn {
      store.read("wide_t")
      store.rangeScan("wide_t", "Date", d(10), d(20))
    } == 0)
    assert(store.read("wide_t").count() == 45)
    assert(store.rangeScan("wide_t", "Date", d(10), d(20)).count() == 11)
  }

  test("a Date-keyed view reads as spark.read.parquet after overwrite, append and merge") {
    def rows(d: Seq[String], seq: Long) = d.zipWithIndex.map { case (x, i) =>
      (x, seq, if (i % 3 == 0) None else Some(i.toDouble), s"t$i")
    }.toDF("Date", "seq", "pred", "text")
    store.overwrite("eq_date", rows(days(0, 5), 1L), "Date")
    assertReadsAsParquet("eq_date")
    assert(store.read("eq_date").schema("Date").dataType == org.apache.spark.sql.types.DateType)
    store.append("eq_date", rows(days(3, 4), 2L), "Date")
    assertReadsAsParquet("eq_date")
    store.merge("eq_date", rows(days(4, 2), 3L), "Date")
    assertReadsAsParquet("eq_date")
  }

  test("an int shard-keyed view (IncrementalDedup's layout) reads as spark.read.parquet") {
    def fps(ids: Range) = ids.map(i => (i.toLong, s"doc$i".getBytes("UTF-8"), Seq(i, i * 7)))
      .toDF("id", "digest", "sig")
      .withColumn("shard", pmod(xxhash64(col("digest")), lit(8)).cast("int"))
    store.overwrite("eq_shard", fps(0 until 40), "shard")
    assertReadsAsParquet("eq_shard")
    assert(store.read("eq_shard").schema("shard").dataType == org.apache.spark.sql.types.IntegerType)
    store.append("eq_shard", fps(40 until 50), "shard")
    assertReadsAsParquet("eq_shard")
    store.merge("eq_shard", fps(45 until 60), "shard")
    assertReadsAsParquet("eq_shard")
  }

  test("staging dirs, _SUCCESS and .crc files are skipped") {
    store.overwrite("skip_t", days(0, 3).map(x => (x, 1.0)).toDF("Date", "v"), "Date")
    litter("skip_t")
    assertReadsAsParquet("skip_t")
    assert(store.read("skip_t").count() == 3)
  }

  test("a missing view and an empty view dir fail with spark.read.parquet's conditions") {
    def condition(f: => Any) = intercept[AnalysisException](f).getCondition
    assert(condition(store.read("missing_t")) == "PATH_NOT_FOUND")
    new File(root, "empty_t").mkdirs()
    assert(condition(store.read("empty_t")) == "UNABLE_TO_INFER_SCHEMA")
    Files.writeString(new File(root, "empty_t/_SUCCESS").toPath, "")
    assert(condition(store.read("empty_t")) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("a cached read sees a later write after refreshByPath") {
    store.overwrite("cached_t", days(0, 3).map(x => (x, 1.0)).toDF("Date", "v"), "Date")
    val df = store.read("cached_t").cache()
    try {
      assert(df.count() == 3)
      store.append("cached_t", days(3, 2).map(x => (x, 2.0)).toDF("Date", "v"), "Date")
      spark.catalog.refreshByPath(s"$root/cached_t")
      assert(df.count() == 5)
    } finally df.unpersist()
  }
}
