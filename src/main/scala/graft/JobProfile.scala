package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev utility (optimization rounds): run one catalog query steady-state
  * and print its per-job / per-stage breakdown — job wall ms, stage task
  * counts, task time sums, shuffle bytes — so "slow" decomposes into
  * scheduling floor vs shuffle vs compute before anything is changed.
  *
  * Usage: `runMain graft.JobProfile <sfDir> <name> [reps]`
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(',').toSeq)
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus) // same confs as Verify and perfbench
    spark.sparkContext.setLogLevel("ERROR")

    final case class StageRow(id: Int, name: String, nTasks: Int,
        runMs: Long, cpuMs: Long, gcMs: Long, shufReadB: Long,
        shufWriteB: Long)
    val jobStart = mutable.Map[Int, Long]()
    val jobRows = mutable.ArrayBuffer[(Int, Long)]() // id, wall ms
    val stageRows = mutable.ArrayBuffer[StageRow]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = e.time
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobRows += ((e.jobId, e.time - jobStart.getOrElse(e.jobId, e.time)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stageRows += StageRow(si.stageId,
          si.name.linesIterator.next().take(80), si.numTasks,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.jvmGCTime,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)
      }
    }

    // warm-up the whole list first: codegen + memoized artifacts
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir).count())
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir).count())
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        jobStart.clear(); jobRows.clear(); stageRows.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let the async listener bus drain
        val jobsMs = jobRows.map(_._2).sum
        println(f"[prof] $name rep$i wall=$wall%.3f s jobs=${jobRows.size} " +
          f"jobWallSum=${jobsMs / 1000.0}%.3f s stages=${stageRows.size} " +
          f"tasks=${stageRows.map(_.nTasks).sum} " +
          f"gcSum=${stageRows.map(_.gcMs).sum} ms")
        stageRows.sortBy(-_.runMs).take(12).foreach { r =>
          println(f"[prof]   stage ${r.id}%4d ${r.runMs}%6d ms " +
            f"cpu=${r.cpuMs}%6d gc=${r.gcMs}%5d tasks=${r.nTasks}%4d " +
            f"shufR=${r.shufReadB}%9d shufW=${r.shufWriteB}%9d  ${r.name}")
        }
      }
    }
    spark.stop()
  }
}
