package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs, built with the same config
  * Verify and Bench run (GraftSession.create). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.create("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
