package graft.fec

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkFunSuite
import graft.graph.GraphStore
import graft.io.DocStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream ≡ batch for the FEC stores: the fixture `indiv22` landed as
  * k = 3 files, each drained by [[FecPipeline.amend]], gives the same
  * contribution docs and G7 graph tables, row for row, as one
  * [[FecPipeline.run]] over the same bulk files (`oth22`, `oppexp22`
  * and the independent expenditures empty, so contributions come from
  * `indiv22` alone). No key carries two differing versions: the
  * fixture's duplicate line is an exact copy, landed in two batches. */
class FecAmendEquivalenceSpec extends SparkFunSuite {

  test("FecPipeline.amend over 3 landing files == one FecPipeline.run") {
    val fixture = new FecPipelineSpec().bulkDirPublic
    val root = Files.createTempDirectory("fec_amend_eq")
    val bulk = Files.createDirectories(root.resolve("bulk"))
    for (t <- Seq("cn22", "cm22", "ccl22", "indiv22"))
      Files.copy(Paths.get(s"$fixture/$t.txt"), bulk.resolve(s"$t.txt"))
    for (t <- Seq("oth22", "oppexp22", "independent_expenditure_2022"))
      Files.writeString(bulk.resolve(s"$t.txt"), "")
    val ts = lit("2022-06-01").cast("timestamp")

    FecPipeline.run(spark, bulk.toString, s"$root/batch", ts)

    // line i lands in file i mod 3, so the exact duplicate (lines 0 and
    // 1) is replayed across two batches
    val lines = Files.readAllLines(bulk.resolve("indiv22.txt")).asScala.toSeq
    val landing = Files.createDirectories(root.resolve("landing"))
    val staging = Files.createDirectories(root.resolve("staging"))
    for (k <- 0 until 3) {
      val part = lines.zipWithIndex.collect { case (l, i) if i % 3 == k => l }
      val f = Files.writeString(staging.resolve(s"indiv22_$k.txt"),
        part.mkString("", "\n", "\n"))
      Files.move(f, landing.resolve(f.getFileName),
        StandardCopyOption.ATOMIC_MOVE)
      FecPipeline.amend(spark, bulk.toString, landing.toString,
        s"$root/stream", s"$root/checkpoint", ts)
    }

    def rows(df: Option[DataFrame]): Seq[String] =
      df.get.collect().map(_.toString).toSeq.sorted
    def same(table: String, read: String => Option[DataFrame]): Unit = {
      val b = rows(read("batch"))
      assert(b.nonEmpty, table)
      assert(rows(read("stream")) == b, table)
    }
    same("federal_fec_contributions", side =>
      new DocStore(spark, s"$root/$side/docs")
        .read("federal_fec_contributions"))
    def graph(side: String) = new GraphStore(spark, s"$root/$side/graph")
    // every graph table only loadContributions writes (Day vertices are
    // also written by loadExpenditures)
    for (label <- Seq("Contribution", "Donor"))
      same(label, side => graph(side).readVertices(label))
    for (tpe <- Seq("CONTRIBUTED_TO_IN", "CONTRIBUTED_TO_OUT",
        "CONTRIBUTED_TO", "HAPPENED_ON", "DONOR_EMPLOYER", "DONOR_JOB",
        "LIVES_IN_STATE", "LIVES_IN_ZIP"))
      same(tpe, side => graph(side).readEdges(tpe))
  }
}
