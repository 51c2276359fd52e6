package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session: one per suite (lazy), UTC, small shuffle width. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session(4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
