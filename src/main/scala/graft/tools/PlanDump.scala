package graft.tools

import java.nio.file.{Files, Paths}
import graft.GraftSession
import graft.queries.Queries

/** Dev-only: write every declared query's `.explain("formatted")` to
  * `<outDir>/<name>.txt` for offline plan-shape review (Exchange count,
  * join strategy, PushedFilters/ReadSchema, codegen spans). Queries whose
  * operators run eager routing actions at DataFrame-build time pay them
  * here, so prefer a small SF dir. Tokens that change from run to run
  * are masked ([[mask]]), so two dumps of one commit are byte-identical
  * and `diff -r` between two commits shows only plan changes. Usage:
  *   runMain graft.tools.PlanDump <outDir> [sfDir] [names...]
  */
object PlanDump {

  /** (pattern, replacement) for each run-dependent token: expression ids,
    * plan ids, lambda class names, object identity hashes, and the
    * application id inside shared-index scratch paths. */
  private val volatile = Seq(
    "#\\d+" -> "#N",
    "plan_id=\\d+" -> "plan_id=N",
    "\\$Lambda(\\$\\d+)?/0x[0-9a-f]+" -> "\\$Lambda",
    "(?<=[\\w$])@[0-9a-f]+\\b" -> "@N",
    "_local_\\d+" -> "_local_N")

  /** `plan` with its run-dependent tokens replaced by fixed ones. */
  def mask(plan: String): String =
    volatile.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val only = args.drop(2).toSet
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    Queries.all.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        val plan =
          try fn(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
        Files.write(Paths.get(s"$outDir/$name.txt"), mask(plan).getBytes("UTF-8"))
        GraftSession.releaseCaches(spark, blocking = false)
      }
    spark.stop()
  }
}
