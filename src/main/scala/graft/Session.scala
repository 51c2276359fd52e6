package graft

import org.apache.spark.sql.SparkSession

/** The one session builder every entry point and test suite shares:
  * `local[cores]` with shuffle partitions = cores, UTC session time,
  * UI off, WARN logging, the engine's rules and strategies from
  * [[graft.plans.GraftExtensions]] (their only registration), and the
  * session confs of [[Tuning]]. AQE is Spark's default and left
  * alone. `cores` defaults to `SPARK_GRAFT_CPUS` (32 when unset).
  *
  * Sessions that need their own confs take `Session(n).newSession()`
  * and `conf.set` on the child, so the shared session stays untouched.
  */
object Session {
  def apply(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tuning.Confs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
