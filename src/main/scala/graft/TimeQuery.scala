package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: time catalog queries at a given SF, repeated, after a
  * warm-up run — isolates steady-state cost of any catalog query (the
  * benchmark's `catalog_mix` times only its fixed eight).
  * `<name>` may be a comma-separated list: all queries warm first (so
  * shared memoized artifacts are amortized as in a warm steady-state
  * loop), then each is timed in list order.
  * Usage: `runMain graft.TimeQuery <sfDir> <name[,name...]> [reps]`. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(',').toSeq)
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus) // same confs as Verify and perfbench
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: codegen/JIT + memoized artifacts, across the whole list
    names.foreach(n => SparkEntry.queries(n)(spark, sfDir).count())
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        println(f"[time] $name rep$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
