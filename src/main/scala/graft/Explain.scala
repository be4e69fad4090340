package graft

/** Plan-inspection aid: `runMain graft.Explain <query> [sfDir]` prints the
  * formatted plan for one SparkEntry query, planned by the product session
  * ([[graft.core.GraftSession.local]]).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else graft.core.WorkDirs.testData("0.001")
    val spark = graft.core.GraftSession.local(cores = 4)
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
