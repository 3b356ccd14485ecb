package graft

/** Plan-inspection main: prints the formatted physical plan for each (or one
  * named) catalog query — used to audit pushdown (PushedFilters/ReadSchema),
  * broadcast choices, and WholeStageCodegen coverage after every operator
  * change.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val only = if (args.length > 1) Some(args(1)) else None
    val spark = SessionProfile.session("4", "4")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_ == n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Exception => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
