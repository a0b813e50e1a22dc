package graft

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only: print a query's final adaptive plan (`sbt "Test/runMain
  * graft.PlanProbe <query>"`) for plan-shape work; not part of CI.
  * Every action the query runs on the way (an iterative operator's
  * checkpoints, counts and collects) prints too, in order, each under a
  * `== action N: <name> ==` header, so a loop's job chain shows.
  *
  * `cd_write_union` is the city-directory pipeline's fused write
  * instead: `CityDirectories.writeUnion` over `SparkEntry.entry` on the
  * fixture corpus. Only the write's plan prints, with the archive and
  * output directories masked as `<archives>` and `<out>` and lambda
  * class names cut to `$Lambda`, so two commits' plans diff cleanly.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "dd12_containment"
    val spark = TestSpark.spark
    spark.sparkContext.setLogLevel("ERROR")
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(f -> qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    if (name == "cd_write_union")
      return printActions(spark, actions, writeCdUnion(spark), writesOnly = true)
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    df.collect()
    printActions(spark, actions, Nil, writesOnly = false)
  }

  /** Prints the actions' final plans, each mask (a regex and its
    * replacement) applied, and stops the session. */
  private def printActions(
      spark: org.apache.spark.sql.SparkSession,
      actions: java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)],
      masks: Seq[(String, String)], writesOnly: Boolean): Unit = {
    // listener events arrive on the listener bus, after the action
    Thread.sleep(2000)
    actions.toArray(Array.empty[(String, QueryExecution)])
      .filter { case (_, qe) => !writesOnly || isWrite(qe.executedPlan) }
      .zipWithIndex.foreach { case ((f, qe), i) =>
        val plan = masks.foldLeft(finalPlan(qe)) { case (p, (from, to)) =>
          p.replaceAll(from, to) }
        println(s"== action ${i + 1}: $f ==\n$plan\n")
      }
    spark.stop()
  }

  /** Runs the fused write; returns the masks for its plan. */
  private def writeCdUnion(spark: org.apache.spark.sql.SparkSession)
      : Seq[(String, String)] = {
    val out = java.nio.file.Files.createTempDirectory("graft-plan-probe")
      .resolve("out").toString
    CityDirectories.writeUnion(SparkEntry.entry(spark), out)
    Seq(java.util.regex.Pattern.quote(out) -> "<out>",
      """InMemoryFileIndex\((\d+) paths\)\[file:[^\]]*\]""" ->
        "InMemoryFileIndex($1 paths)[file:<archives>]",
      // a lambda class's name and identity change from run to run
      """\$Lambda\$[^,\s]*""" -> "\\$Lambda")
  }

  /** A V1 file write or a V2 sink's write. */
  private def isWrite(p: SparkPlan): Boolean =
    p.isInstanceOf[DataWritingCommandExec] ||
      p.find(_.isInstanceOf[V2TableWriteExec]).isDefined

  private def finalPlan(qe: QueryExecution): String =
    qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
}
