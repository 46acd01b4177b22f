package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Dev tool: dump formatted physical plans for headline queries so
  * plan regressions (lost pushdown, missing broadcast, surprise
  * shuffles) are reviewable as text.
  *
  * Usage: runMain graft.Explain <sfDir> <outFile> [query,...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("/tmp/plans.txt")
    val only: Set[String] = args.lift(2).map(_.split(",").toSet).getOrElse(Set.empty)
    val spark = graft.engine.Core.session("graft-explain")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          sb.append(s"==== $name ====\n")
          sb.append(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          sb.append("\n")
        } catch {
          case NonFatal(e) => sb.append(s"==== $name ==== FAILED: ${e.getMessage}\n")
        }
      }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[explain] wrote $outFile")
    spark.stop()
  }
}
