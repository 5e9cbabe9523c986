package graft

/** Drive the flagship relay pipeline end-to-end and print what a Kafka
  * consumer would see — the runtime surface of the library for smoke
  * verification (`sbt "runMain graft.Demo"`).
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession()
    val out = SparkEntry.entry(spark)
    println(s"rows=${out.count()}")
    println("topics:")
    out.groupBy("topic").count().orderBy("topic").show(false)
    out.show(3, truncate = 120)
    spark.stop()
  }
}
