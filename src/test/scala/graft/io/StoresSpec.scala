package graft.io

import graft.SparkFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

class DocStoreSpec extends SparkFunSuite {
  import spark.implicits._

  private def newStore() =
    new DocStore(spark, Files.createTempDirectory("docs").toString)

  test("index mode overwrites by id") {
    val store = newStore()
    store.index("idx", "doc_id",
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v"))
    store.index("idx", "doc_id",
      Seq((2L, "B"), (3L, "c")).toDF("doc_id", "v"))
    val out = store.read("idx").get.orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("upsert merges struct fields one level deep (partial update)") {
    val store = newStore()
    // first writer sets context.last_indexed
    val d1 = Seq((1L, ("x", null.asInstanceOf[String])))
      .toDF("doc_id", "context")
      .select($"doc_id", struct($"context._1".as("last_indexed"),
        $"context._2".as("last_graphed")).as("context"))
    store.upsert("idx", "doc_id", d1)
    // second writer sets ONLY context.last_graphed
    val d2 = Seq((1L, (null.asInstanceOf[String], "g")))
      .toDF("doc_id", "context")
      .select($"doc_id", struct($"context._1".as("last_indexed"),
        $"context._2".as("last_graphed")).as("context"))
    store.upsert("idx", "doc_id", d2)
    val ctx = store.read("idx").get.select("context.*")
      .as[(String, String)].head()
    assert(ctx == ("x", "g")) // both fields survive
  }

  test("upsert keeps old rows and inserts new ones") {
    val store = newStore()
    store.upsert("idx", "doc_id", Seq((1L, "a")).toDF("doc_id", "v"))
    store.upsert("idx", "doc_id", Seq((2L, "b")).toDF("doc_id", "v"))
    assert(store.read("idx").get.count() == 2)
  }

  test("last-writer-wins inside one batch") {
    val store = newStore()
    store.index("idx", "doc_id",
      Seq((1L, "first"), (1L, "second")).toDF("doc_id", "v"))
    assert(store.read("idx").get.select("v").as[String].head() == "second")
  }
}

class FecDocsSpec extends SparkFunSuite {
  import graft.fec._
  import spark.implicits._

  test("incremental load: only unseen keys upserted; rerun loads zero") {
    val store = new DocStore(spark,
      Files.createTempDirectory("docs2").toString)
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
    assert(FecDocs.loadIncremental(store, "contributions", docs) == 2)
    val more = Seq((2L, "b2"), (3L, "c")).toDF("doc_id", "v")
    assert(FecDocs.loadIncremental(store, "contributions", more) == 1)
    assert(FecDocs.loadIncremental(store, "contributions", more) == 0)
    // 2 kept its ORIGINAL value: incremental load never re-upserts seen keys
    val v2 = store.read("contributions").get
      .filter($"doc_id" === 2).select("v").as[String].head()
    assert(v2 == "b")
  }

  test("incremental load counts distinct docs: a repeated key stores once") {
    val store = new DocStore(spark,
      Files.createTempDirectory("docs3").toString)
    val docs = Seq((1L, "a"), (1L, "a2"), (2L, "b")).toDF("doc_id", "v")
    assert(FecDocs.loadIncremental(store, "contributions", docs) == 2)
    val stored = store.read("contributions").get
    assert(stored.count() == 2)
    // last writer wins inside the batch
    assert(stored.filter($"doc_id" === 1).select("v").as[String].head() == "a2")
  }
}
