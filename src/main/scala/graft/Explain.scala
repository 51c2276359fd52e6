package graft

import org.apache.spark.sql.execution.SQLExecution

/** Plan inspection: prints the formatted physical plan, the timing and
  * the post-AQE final plan for the named queries — the
  * iterate-until-the-plan-is-right loop.
  * Usage: runMain graft.Explain <sfDir> <queryName>...
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session()
    names.foreach { name =>
      println(s"========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      // run the frame's own QueryExecution (a write would plan a new
      // one), so the plan printed after the run is the one AQE settled
      // on — runtime ReusedExchange/skew splits only show there
      val qe = df.queryExecution
      val t0 = System.nanoTime()
      SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
      println(f"[time] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      println(qe.executedPlan.toString)
    }
    spark.stop()
  }
}
