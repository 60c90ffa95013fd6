package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class GraftApiSpec extends SparkFunSuite {

  test("Graft.init exposes the scalar library to SQL") {
    Graft.init(spark)
    val r = spark.sql(
      """SELECT process_name('SMITH, JOHN JR') AS n,
        |  get_domain('www.example.com/a') AS d,
        |  simhash64('hello world') AS s,
        |  detect_language('the cat and the dog in the house') AS l
        |""".stripMargin).head()
    assert(r.getAs[String]("n") == "JOHN SMITH JR")
    assert(r.getAs[String]("d") == "example.com")
    assert(r.getAs[Long]("s") != 0L)
    assert(r.getAs[String]("l") == "en")
    // round-6 registrations: token counter, Jaro-Winkler, CMS grid
    val r2 = spark.sql(
      """SELECT bpe_token_count_native('hello, world') AS t,
        |  jaro_winkler_native('martha', 'marhta') AS jw,
        |  size(cms_sketch_native(v)) AS g
        |FROM (SELECT explode(array('a', 'b', 'a')) AS v)
        |GROUP BY 1, 2""".stripMargin).head()
    assert(r2.getAs[Int]("t") == 5)        // "hell","o" + "," + "worl","d"
    assert(r2.getAs[Double]("jw") == 0.9611111111111111)
    assert(r2.getAs[Int]("g") == 3 * 4096)
  }

  test("GraftExtensions injects the native expressions into a fresh session") {
    import org.apache.spark.sql.SparkSession
    // build a REAL session through the extension (reusing the shared
    // SparkContext): the SQL below must resolve with NO register call,
    // or the injection itself is broken
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      try {
        val r = ext.sql(
          """SELECT cosine_sim_native(
            |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
            |  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
            |  simhash64_native('hello world') AS s,
            |  size(minhash_bands_native('hello world')) AS b,
            |  char_entropy_native('aa') AS e,
            |  gram_stats_native(array('x', 'x', 'y')).max_count AS g"""
            .stripMargin)
          .head()
        assert(r.getDouble(0) == 1.0)
        assert(r.getLong(1) == functions.SimHash.simhash64("hello world"))
        assert(r.getInt(2) == 16)
        assert(r.getDouble(3) == 0.0) // one distinct char: -1*log2(1)
        assert(r.getInt(4) == 2)
        // wrong arity fails with the builder's message, not an
        // IndexOutOfBoundsException from inside the analyzer
        val e = intercept[Exception] {
          ext.sql("SELECT cosine_sim_native(array(CAST(1.0 AS FLOAT)))")
            .collect()
        }
        assert(!e.isInstanceOf[IndexOutOfBoundsException])
      } finally {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("quarantined bulk read splits malformed rows instead of failing") {
    import spark.implicits._
    val d = Files.createTempDirectory("quar").toString
    val lines = Seq(
      "H001|2022|2022|C001|H|A|1001",
      "H002|NOT_A_YEAR|2022|C002|S|B|1002", // bad INT field
      "H003|2022|2022|C003|Q|U|1003")
    Files.writeString(Paths.get(s"$d/ccl22.txt"), lines.mkString("\n"))
    val (clean, quarantined, _) = fec.FecSchemas
      .readPipeTextLinesQuarantined(spark, "ccl22", lines.toDS())
    assert(clean.count() == 2)
    assert(quarantined.count() == 1)
    assert(quarantined.head().getString(0).contains("NOT_A_YEAR"))
    // strict reader on the same file nulls the bad cell instead
    val strict = fec.FecSchemas.readBulkFile(spark, "ccl22", s"$d/ccl22.txt")
    assert(strict.count() == 3)
  }
}

class CatalogIntegritySpec extends SparkFunSuite {
  test("catalog keys are collision-free and every oracle has a query") {
    val moduleSizes = Seq(
      graft.ops.CoreRelational.queries.size, graft.ops.TextOps.queries.size,
      graft.ops.DedupOps.queries.size, graft.ops.SimOps.queries.size,
      graft.ops.EventOps.queries.size, graft.ops.MultimodalOps.queries.size,
      graft.ops.FuncOps.queries.size, graft.ops.Headline.queries.size,
      graft.ops.DocOps.queries.size, graft.ops.TrainOps.queries.size,
      graft.ops.GraphOps.queries.size, graft.ops.StatsOps.queries.size,
      graft.ops.PlanCensus.queries.size, graft.ops.Profiling.queries.size,
      graft.ops.LayoutOlap.queries.size, graft.ops.StreamOps.queries.size,
      graft.fec.FecFunnel.queries.size)
    assert(SparkEntry.queries.size == moduleSizes.sum,
      "duplicate query name across modules")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
