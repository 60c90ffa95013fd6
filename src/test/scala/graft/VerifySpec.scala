package graft

import java.nio.file.{Files, Paths}

/** `Verify.run` reports failed queries by name (so `main` can exit
  * non-zero) and still writes the oracle file when a query fails. */
class VerifySpec extends SparkFunSuite {
  private val one = Some(Set("q01_pricing"))

  test("run writes the selected result and reports no failures") {
    val out = Files.createTempDirectory("verify_ok")
    try {
      assert(Verify.run(spark, sfDir, out.toString, one) === Seq.empty)
      assert(spark.read.parquet(s"$out/q01_pricing").count() > 0)
      assert(Files.exists(out.resolve("oracle_sql.json")))
    } finally graft.io.BucketedParquet.deleteTree(out)
  }

  test("run returns the failed query names and still writes oracle_sql.json") {
    val out = Files.createTempDirectory("verify_fail")
    try {
      val missing = out.resolve("no_such_sf").toString
      assert(Verify.run(spark, missing, out.toString, one) ===
        Seq("q01_pricing"))
      assert(!Files.exists(out.resolve("q01_pricing")))
      assert(Files.size(out.resolve("oracle_sql.json")) > 2)
    } finally graft.io.BucketedParquet.deleteTree(out)
  }
}
