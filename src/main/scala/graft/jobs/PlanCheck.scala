package graft.jobs

import graft.SparkEntry

/** Diagnostic: dump formatted physical plans for the query surface so
  * pushdowns / broadcasts / codegen spans can be inspected (the
  * `.explain`-and-iterate discipline).
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = Sessions.local("local[4]", "4")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names.contains(name)) {
        println(s"===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
