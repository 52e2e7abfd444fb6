package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Dumps the executed physical plan of every SparkEntry query to a
  * markdown file — the receipts behind the "explain-audited" claim, and a
  * baseline to diff when plans regress between rounds.
  *
  * Usage: Test/runMain graft.tools.ExplainDump [sfDir] [outFile]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // whole field lists: past this many fields a plan node prints
      // "... N more fields", which hides a change in the dropped fields
      .config("spark.sql.debug.maxToStringFields", Int.MaxValue.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.tools.ExplainDump, ")
    sb.append(s"sf dir: $sfDir)\n\n")
    sb.append("Compact executed-plan trees per SparkEntry query. `*(n)` ")
    sb.append("prefixes mark whole-stage-codegen stages.\n")
    SparkEntry.queries.foreach { case (name, fn) =>
      sb.append(s"\n## $name\n\n```\n")
      try {
        // EXECUTE, then dump the post-execution plan: AQE's exchange reuse
        // only materializes at runtime — the initial tree prints a shared
        // diamond subtree once per consumer, which reads as a double
        // computation that never actually happens (the r6 source_minhash
        // adjudication hinged on exactly this distinction)
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan.executeCollect()
        val plan = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.executedPlan.toString
          case p => p.toString
        }
        // keep the operator tree, drop per-node detail dumps; lines stay
        // whole, so a plan diff sees every expression
        sb.append(plan.linesIterator.takeWhile(_.trim.nonEmpty).mkString("\n"))
      } catch {
        case NonFatal(e) => sb.append(s"ERROR: ${e.getMessage}")
      }
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
