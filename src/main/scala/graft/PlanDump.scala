package graft

import java.nio.file.{Files, Paths}

/** Dev utility (optimization rounds): dump `explain("formatted")` for a
  * list of catalog queries into a directory, one `<name><suffix>.txt`
  * per query — the before/after plan evidence the optimization report
  * cites. Queries run once first (so memoized artifacts exist and AQE
  * facts are real), then the formatted plan is written.
  *
  * Usage: `runMain graft.PlanDump <sfDir> <outDir> <suffix> <n1,n2,...>`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, list) = args.take(4)
    val names = list.split(',').toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus) // same confs as Verify and perfbench
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // dev-only plan subjects that are not catalog entries (e.g. the
    // inside-the-loop join shape of an iterative query, which the
    // catalog entry's final plan cannot show)
    val devPlans: Map[String,
        (org.apache.spark.sql.SparkSession, String)
          => org.apache.spark.sql.DataFrame] = Map(
      "hits_half_round" -> (ops.GraphOps.hitsHalfRoundPlan _))
    names.foreach { n =>
      val df = SparkEntry.queries.getOrElse(n, devPlans(n))(spark, sfDir)
      try df.count() catch { case _: Throwable => () }
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"$n$suffix.txt"),
        (s"-- $n @ $sfDir (cpus=$cpus)\n" + txt).getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/$n$suffix.txt")
    }
    spark.stop()
  }
}
