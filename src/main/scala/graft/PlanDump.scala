package graft

/** Dev tool: print the formatted physical plan of named queries
  * (`runMain graft.PlanDump q1 q2 …`) — the scale-review loop: check
  * PushedFilters/ReadSchema on scans, broadcast vs shuffle joins,
  * WholeStageCodegen spans, TakeOrderedAndProject for top-k.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkEntry.localSession()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
