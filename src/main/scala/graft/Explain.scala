package graft

/** Dev tool: print the formatted physical plan for named queries.
  * Usage: runMain graft.Explain q02_tpch_q1 q10_tpch_q5 ... */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create("4")
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
