package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only: print a query's final adaptive plan (`sbt "Test/runMain
  * graft.PlanProbe <query>"`) for plan-shape work; not part of CI.
  * Every action the query runs on the way (an iterative operator's
  * checkpoints, counts and collects) prints too, in order, each under a
  * `== action N: <name> ==` header, so a loop's job chain shows.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "dd12_containment"
    val spark = TestSpark.spark
    spark.sparkContext.setLogLevel("ERROR")
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(s"== action: $f ==\n${finalPlan(qe)}")
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    df.collect()
    // listener events arrive on the listener bus, after the action
    Thread.sleep(2000)
    actions.toArray.zipWithIndex.foreach { case (a, i) =>
      println(s"${a.toString.replaceFirst("== action", s"== action ${i + 1}")}\n")
    }
    spark.stop()
  }

  private def finalPlan(qe: QueryExecution): String =
    qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
}
