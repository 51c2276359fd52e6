package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join: two tables bucketed on the join key must
  * join with ZERO exchanges — the write-time shuffle is the only one
  * that ever happens. Own session: needs a scratch warehouse dir and
  * AQE off so the physical plan is inspectable deterministically.
  */
class BucketingSpec extends AnyFunSuite {

  // ISOLATED child session: getOrCreate() would return the JVM-shared
  // default session and leak these conf mutations into every other
  // suite (disabling broadcast joins globally). newSession() shares the
  // context but owns its SQLConf. The warehouse dir is a static conf
  // set for the whole test JVM in build.sbt.
  private lazy val spark: SparkSession = {
    val s = graft.Session(4).newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  // unique names per run: the warehouse DIRECTORY outlives the forked
  // test JVM while the in-memory catalog does not, so a fixed name hits
  // LOCATION_ALREADY_EXISTS on the next run
  private val run = java.lang.Long.toHexString(System.nanoTime())
  private val liTable = s"b_lineitem_$run"
  private val ordTable = s"b_orders_$run"

  test("equi-join of co-bucketed tables plans no exchange") {
    val li = graft.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val ords = graft.Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    BucketedStore.write(li, liTable, "l_orderkey", buckets = 4)
    BucketedStore.write(ords, ordTable, "l_orderkey", buckets = 4)

    val joined = BucketedStore.read(spark, liTable)
      .join(BucketedStore.read(spark, ordTable), Seq("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)

    // and the answer matches the unbucketed join
    val expected = li.join(ords, Seq("l_orderkey")).count()
    assert(joined.count() == expected)
  }

  test("aggregation on the bucket key also skips the exchange") {
    val agg = BucketedStore.read(spark, liTable)
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
