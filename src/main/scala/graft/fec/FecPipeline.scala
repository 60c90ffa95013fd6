package graft.fec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.graph.GraphStore
import graft.io.DocStore
import java.nio.file.{Files, Paths}

/** The flagship FEC DAG (SURVEY §3.1) as ONE user call — what the
  * reference runs as 20 Pub/Sub-chained Cloud Functions:
  *
  * bulk files → typed tables → master tables → classification views →
  * enriched elastic rows → document envelopes (DocStore) → graph
  * MERGE batches (GraphStore).
  *
  * Every stage is the same pure DataFrame function the specs exercise
  * individually; this object only wires them, so running the pipeline
  * end-to-end inherits each stage's tested semantics. The incremental
  * doc load is [[FecDocs.loadIncremental]] (a bucket-pruned
  * insert-only [[graft.io.DocStore.insertNew]]); the checkpoint-based
  * streaming variant is [[graft.streaming.IncrementalPipeline]].
  */
object FecPipeline {

  final case class Summary(
      masterContributions: Long,
      masterExpenditures: Long,
      elasticRows: Long,
      docIndexes: Map[String, Long],
      graphVertices: Map[String, Long],
      graphEdges: Map[String, Long])

  /** Read one bulk table from `bulkDir` (pipe text `.txt` or headered
    * `.csv`, per the schema registry's format dispatch). */
  private def bulk(spark: SparkSession, bulkDir: String, table: String): DataFrame = {
    val txt = s"$bulkDir/$table.txt"
    val path = if (Files.exists(Paths.get(txt))) txt else s"$bulkDir/$table.csv"
    FecSchemas.readBulkFile(spark, table, path)
  }

  def run(spark: SparkSession, bulkDir: String, storeDir: String,
      runTs: Column): Summary = {
    val cn = bulk(spark, bulkDir, "cn22")
    val cm = bulk(spark, bulkDir, "cm22")
    val ccl = bulk(spark, bulkDir, "ccl22")
    val indiv = bulk(spark, bulkDir, "indiv22")
    val oth = bulk(spark, bulkDir, "oth22")
    val oppexp = bulk(spark, bulkDir, "oppexp22")
    val indExp = bulk(spark, bulkDir, "independent_expenditure_2022")

    // each master stage feeds several consumers (doc writes, graph
    // loads, summary counts) — materialize once instead of re-running
    // the bulk-read + join chain per consumer
    val contributions = MasterTables.contributions(oth, indiv)
      .localCheckpoint(true)
    val expenditures = MasterTables.expenditures(oppexp, indExp, cm, cn)
      .localCheckpoint(true)
    val elastic = ContributionViews.elastic(contributions, cn, cm)
      .localCheckpoint(true)

    val docs = new DocStore(spark, s"$storeDir/docs")
    docs.index("federal_fec_candidates", "doc_id",
      FecDocs.candidateDocs(cn, runTs))
    docs.index("federal_fec_committees", "doc_id",
      FecDocs.committeeDocs(cm, runTs))
    docs.upsert("federal_fec_contributions", "doc_id",
      FecDocs.contributionDocs(elastic, runTs))

    val graph = new GraphStore(spark, s"$storeDir/graph")
    FecGraph.loadCandidates(graph, cn)
    FecGraph.loadCommittees(graph, cm, ccl)
    FecGraph.loadContributions(graph, elastic)
    FecGraph.loadExpenditures(graph, expenditures)

    val docIndexes = Seq("federal_fec_candidates", "federal_fec_committees",
      "federal_fec_contributions")
      .map(i => i -> docs.read(i).map(_.count()).getOrElse(0L)).toMap
    val vLabels = Seq("Candidate", "Committee", "Contribution", "Donor",
      "State", "Party", "Race", "Expenditure")
    val eTypes = Seq("RUNNING_IN", "RUNNING_FOR", "CAND_PARTY", "LINKAGE",
      "CONTRIBUTED_TO_IN", "CONTRIBUTED_TO_OUT", "CONTRIBUTED_TO",
      "HAPPENED_ON", "SPENT", "IDENTIFIES", "PAID", "TARGETS")
    Summary(
      masterContributions = contributions.count(),
      masterExpenditures = expenditures.count(),
      elasticRows = elastic.count(),
      docIndexes = docIndexes,
      graphVertices = vLabels.flatMap(l =>
        graph.readVertices(l).map(df => l -> df.count())).toMap,
      graphEdges = eTypes.flatMap(t =>
        graph.readEdges(t).map(df => t -> df.count())).toMap)
  }
}
