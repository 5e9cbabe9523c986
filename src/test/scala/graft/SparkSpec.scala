package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val sfDir = "/root/testdata/sf0.001"

  /** Run `f` with the RocksDB state store provider (transformWithState
    * needs its column families), restoring the default afterwards.
    */
  def withRocksDb[T](f: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** Every node of an EXECUTED plan, descending through the AQE wrappers
    * (`AdaptiveSparkPlanExec`, `QueryStageExec`) that plain
    * `collect`/`collectLeaves` treat as leaves.
    */
  def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }
}
