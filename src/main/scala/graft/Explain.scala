package graft
/** Dev tool: print the formatted physical plan of each named query.
  *
  * Usage: runMain graft.Explain <sfDir> <query_name>...
  * Cores come from SPARK_GRAFT_CPUS (default 4), as in Verify.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <query_name>...")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
