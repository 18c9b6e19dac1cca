package graft

/** Ad-hoc plan inspector: prints the formatted physical plan of the
  * named queries (the GraftSession config Verify checks). Usage:
  *   scripts/run.sh graft.PlanDump <sfDir> <query> [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
    sys.exit(0)
  }
}
