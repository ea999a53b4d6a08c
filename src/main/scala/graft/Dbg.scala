package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: run one named query at sf0.001 and show 5 rows (or the
  * stack trace on failure). Formatted plans come from [[Explain]].
  *
  * Usage: runMain graft.Dbg <query_name> [show] [sfDir]
  */
object Dbg {
  def main(args: Array[String]): Unit = {
    require(args.lift(1).forall(_ == "show"),
      "usage: Dbg <query_name> [show] [sfDir]; plans: Explain <sfDir> <names>")
    // GraftSession carries the parquet timestamp configs (nanosAsLong,
    // inferTimestampNTZ=false, UTC zone) — an ad-hoc builder here once
    // diverged and made Dbg reject queries Verify runs fine.
    val spark = GraftSession.builder("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.001")
    try SparkEntry.queries(args(0))(spark, sfDir).show(5)
    catch { case e: Throwable => e.printStackTrace() }
    spark.stop()
  }
}
