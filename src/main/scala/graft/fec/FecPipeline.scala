package graft.fec

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import graft.graph.GraphStore
import graft.io.DocStore
import graft.streaming.IncrementalPipeline
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
  * end-to-end inherits each stage's tested semantics. Two entrypoints
  * share the contribution path (master → elastic view → doc upsert →
  * graph G7):
  *
  *  - [[run]]: one load of the bulk files into the doc and graph stores;
  *  - [[amend]]: the incremental path, a `Trigger.AvailableNow` stream of
  *    `indiv22` amendment files landing in a directory (the `fecpipe`
  *    source, the same pipe-text parser as [[run]]), each micro-batch
  *    upserted into the same stores. Streaming k landing files gives the
  *    stores one [[run]] over their union gives (FecAmendEquivalenceSpec).
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

  /** Load the bulk files in `bulkDir` into the doc and graph stores
    * under `storeDir`. Per store, the write order is: candidates,
    * committees, contributions, expenditures. */
  def run(spark: SparkSession, bulkDir: String, storeDir: String,
      runTs: Column): Summary = {
    val cn = bulk(spark, bulkDir, "cn22")
    val cm = bulk(spark, bulkDir, "cm22")
    val ccl = bulk(spark, bulkDir, "ccl22")
    val indiv = bulk(spark, bulkDir, "indiv22")
    val oth = bulk(spark, bulkDir, "oth22")
    val oppexp = bulk(spark, bulkDir, "oppexp22")
    val indExp = bulk(spark, bulkDir, "independent_expenditure_2022")

    val docs = new DocStore(spark, s"$storeDir/docs")
    docs.index("federal_fec_candidates", "doc_id",
      FecDocs.candidateDocs(cn, runTs))
    docs.index("federal_fec_committees", "doc_id",
      FecDocs.committeeDocs(cm, runTs))
    val graph = new GraphStore(spark, s"$storeDir/graph")
    FecGraph.loadCandidates(graph, cn)
    FecGraph.loadCommittees(graph, cm, ccl)

    val (contributions, elastic) =
      contribute(docs, graph, oth, indiv, cn, cm, runTs)
    // the master feeds the graph load and the summary count:
    // materialize once instead of re-running the bulk-read + join chain
    val expenditures = MasterTables.expenditures(oppexp, indExp, cm, cn)
      .localCheckpoint(true)
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

  /** Drain the `indiv22` amendment files that landed in `landingDir`
    * since the last call into the stores under `storeDir`, one
    * micro-batch at a time (`Trigger.AvailableNow`; `checkpointDir`
    * records the files already consumed, so a restart reads only new
    * ones). `cn22`/`cm22` in `bulkDir` enrich the batches. Lines are
    * parsed permissively, as [[run]] parses them: a short line is
    * null-padded, extra trailing fields are dropped. */
  def amend(spark: SparkSession, bulkDir: String, landingDir: String,
      storeDir: String, checkpointDir: String, runTs: Column): Unit = {
    val cn = bulk(spark, bulkDir, "cn22").localCheckpoint(true)
    val cm = bulk(spark, bulkDir, "cm22").localCheckpoint(true)
    val noOth = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], FecSchemas.oth)
    val docs = new DocStore(spark, s"$storeDir/docs")
    val graph = new GraphStore(spark, s"$storeDir/graph")
    IncrementalPipeline.drain(
      spark.readStream.format("fecpipe").option("table", "indiv22")
        .option("mode", "permissive"),
      landingDir, checkpointDir, identity,
      (indiv, _) => contribute(docs, graph, noOth, indiv, cn, cm, runTs),
      maxFilesPerTrigger = None)
  }

  /** The contribution path of both entrypoints: master contributions →
    * elastic view → doc upsert → graph G7. Returns the master and elastic
    * rows, each materialized once for its several consumers. */
  private def contribute(docs: DocStore, graph: GraphStore, oth: DataFrame,
      indiv: DataFrame, cn: DataFrame, cm: DataFrame,
      runTs: Column): (DataFrame, DataFrame) = {
    val contributions = MasterTables.contributions(oth, indiv)
      .localCheckpoint(true)
    val elastic = ContributionViews.elastic(contributions, cn, cm)
      .localCheckpoint(true)
    docs.upsert("federal_fec_contributions", "doc_id",
      FecDocs.contributionDocs(elastic, runTs))
    FecGraph.loadContributions(graph, elastic)
    (contributions, elastic)
  }
}
