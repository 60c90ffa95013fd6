package graft.fec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.GraphStore
import graft.functions.{Names, Zips}

/** FEC graph builders G1-G8 (SURVEY §2.9): each builder turns a
  * relational input into vertex/edge batches with the same node
  * identities and MERGE semantics as the reference's Cypher layer.
  *
  * Amendment replay (G8) is restated set-wise: the reference replays
  * amendments sequentially ordered by rec_dt (`load_graph_expenditures/
  * main.py:54`, `cypher.py:40-75`); here all tombstones (prev_file_num,
  * tran_id) are deleted first and rows whose own key is tombstoned by a
  * LATER row in the same batch are excluded from the merge — the
  * converged store is identical to sequential replay whenever
  * amendments follow what they amend, without imposing an execution
  * order (so it parallelizes).
  */
object FecGraph {

  private def up(c: Column): Column = upper(trim(c))

  // ---------------------------------------------------------- G1-G4

  /** G1: Candidate + State + RUNNING_IN
    * (`load_graph_candidates/cypher.py:7-14`). */
  def candidateVertices(cn: DataFrame): DataFrame =
    cn.select(col("cand_id"), col("cand_name"),
      col("cand_pty_affiliation"), col("cand_election_yr"),
      col("cand_office_st"), col("cand_office"),
      col("cand_office_district"), col("cand_ici"))

  def stateVertices(cn: DataFrame): DataFrame =
    cn.select(col("cand_office_st").as("abbreviation"))
      .filter(col("abbreviation").isNotNull).distinct()

  def runningInEdges(cn: DataFrame): DataFrame =
    cn.select(col("cand_id"), col("cand_office_st").as("abbreviation"))

  /** G2: Party + ASSOCIATED_WITH (`cypher.py:16-22`). */
  def partyVertices(cn: DataFrame): DataFrame =
    cn.select(col("cand_pty_affiliation").as("abbreviation"))
      .filter(col("abbreviation").isNotNull).distinct()

  def candidatePartyEdges(cn: DataFrame): DataFrame =
    cn.select(col("cand_id"), col("cand_pty_affiliation").as("abbreviation"))

  /** G3: Race (5-part node key) + RUNNING_FOR (`cypher.py:24-33`). */
  def raceVertices(cn: DataFrame): DataFrame =
    cn.select(lit("federal").as("type"), col("cand_election_yr"),
      col("cand_office"), col("cand_office_st"),
      col("cand_office_district")).distinct()

  def candidateRaceEdges(cn: DataFrame): DataFrame =
    cn.select(col("cand_id"), lit("federal").as("type"),
      col("cand_election_yr"), col("cand_office"), col("cand_office_st"),
      col("cand_office_district"))

  /** G4: committee↔candidate linkage edge carrying linkage_id
    * (`cypher.py:35-42`; `load_graph_committees/cypher.py:29-36`). */
  def linkageEdges(ccl: DataFrame): DataFrame =
    ccl.select(col("cmte_id"), col("cand_id"),
      lit("linkage").as("subtype"), col("linkage_id"),
      col("cand_election_yr"))

  // ---------------------------------------------------------- G5-G6

  /** G5: Committee node (`load_graph_committees/cypher.py:7-11`). */
  def committeeVertices(cm: DataFrame): DataFrame =
    cm.select(col("cmte_id"), col("cmte_nm"), col("cmte_dsgn"),
      col("cmte_tp"), col("cmte_pty_affiliation"), col("org_tp"),
      col("connected_org_nm"))

  /** G6: Committee→Party and Committee→Employer(connected org)
    * ASSOCIATED_WITH (`cypher.py:13-27`). */
  def committeePartyEdges(cm: DataFrame): DataFrame =
    cm.filter(col("cmte_pty_affiliation").isNotNull)
      .select(col("cmte_id"), col("cmte_pty_affiliation").as("abbreviation"))

  def committeeEmployerEdges(cm: DataFrame): DataFrame =
    cm.filter(col("connected_org_nm").isNotNull)
      .select(col("cmte_id"), up(col("connected_org_nm")).as("name"))

  // ------------------------------------------------------------- G7

  /** G7 inputs: the contributions_elastic22 view output. Donor identity
    * is (processed name, cleaned zip) exactly as the reference builds
    * it (`load_graph_contributions/main.py:120-160`): process_name →
    * strip, clean_zip, null state → "". */
  def donorName: Column =
    coalesce(trim(Names.process_name(col("donor_name"))), lit(""))
  def donorZip: Column = Zips.clean_zip(col("donor_zip_code"))

  def contributionVertices(elastic: DataFrame): DataFrame =
    elastic.select(
      col("sub_id").cast("string").as("sub_id"),
      col("transaction_dt"), col("transaction_amt"), col("amndt_ind"),
      col("rpt_tp"), col("transaction_pgi"), col("transaction_tp"),
      col("image_num"), col("file_num"), col("tran_id"))

  def donorVertices(elastic: DataFrame): DataFrame =
    elastic.filter(col("classification").isin("individual", "organization")
        && col("donor_name").isNotNull)
      .select(donorName.as("name"), donorZip.as("zip_code"),
        col("donor_entity_tp").as("entity_tp"),
        coalesce(col("donor_state"), lit("")).as("state"),
        when(col("classification") === "individual",
          coalesce(trim(col("donor_employer")), lit(""))).as("employer"),
        when(col("classification") === "individual",
          coalesce(trim(col("donor_occupation")), lit(""))).as("occupation"))

  /** Reified edges: source→Contribution→target, plus the shortcut
    * source→target (`cypher.py:11-112`). `src_kind` distinguishes the
    * Committee/Candidate/Donor source label; Donor keys concatenate
    * (name, zip). */
  def contributedToEdges(elastic: DataFrame): DataFrame = {
    val srcKey = when(col("classification") === "committee", col("source"))
      .when(col("classification") === "candidate", col("source"))
      .otherwise(concat_ws("|", donorName, donorZip))
    val srcLabel = when(col("classification") === "committee", lit("Committee"))
      .when(col("classification") === "candidate", lit("Candidate"))
      .otherwise(lit("Donor"))
    elastic
      .filter(col("classification").isin("committee", "candidate")
        || col("donor_name").isNotNull)
      .select(srcLabel.as("src_label"), srcKey.as("src_key"),
        col("sub_id").cast("string").as("sub_id"),
        col("target"))
  }

  def happenedOnEdges(elastic: DataFrame): DataFrame =
    elastic.filter(col("transaction_dt").isNotNull)
      .select(col("sub_id").cast("string").as("sub_id"),
        year(col("transaction_dt").cast("date")).as("year"),
        month(col("transaction_dt").cast("date")).as("month"),
        dayofmonth(col("transaction_dt").cast("date")).as("day"))

  def dayVertices(elastic: DataFrame): DataFrame =
    happenedOnEdges(elastic).select(col("year"), col("month"), col("day"))
      .distinct()

  /** Donor↔Employer/Job ASSOCIATED_WITH; for orgs the donor's own name
    * is the Employer (`cypher.py:63-112, 131-163`). */
  def donorEmployerEdges(elastic: DataFrame): DataFrame = {
    val ind = elastic.filter(col("classification") === "individual"
        && col("donor_name").isNotNull)
      .select(donorName.as("name"), donorZip.as("zip_code"),
        coalesce(trim(col("donor_employer")), lit("")).as("employer"))
    val org = elastic.filter(col("classification") === "organization"
        && col("donor_name").isNotNull)
      .select(donorName.as("name"), donorZip.as("zip_code"),
        donorName.as("employer"))
    ind.unionByName(org)
  }

  def donorJobEdges(elastic: DataFrame): DataFrame =
    elastic.filter(col("classification") === "individual"
        && col("donor_name").isNotNull)
      .select(donorName.as("name"), donorZip.as("zip_code"),
        coalesce(trim(col("donor_occupation")), lit("")).as("occupation"))

  /** LIVES_IN: Donor→State when state present, Donor→Zip when zip
    * present (`cypher.py:114-128`; guards `main.py:146-159`). */
  def donorStateEdges(elastic: DataFrame): DataFrame =
    elastic.filter(col("classification") === "individual"
        && col("donor_name").isNotNull && col("donor_state").isNotNull)
      .select(donorName.as("name"), donorZip.as("zip_code"),
        col("donor_state").as("state"))

  def donorZipEdges(elastic: DataFrame): DataFrame =
    elastic.filter(col("classification") === "individual"
        && col("donor_name").isNotNull && col("donor_zip_code").isNotNull)
      .select(donorName.as("name"), donorZip.as("zip_code"))

  // ------------------------------------------------------------- G8

  /** G8: independent-expenditure graph with amendment tombstones.
    * Input: expenditures22 master rows with type='independent'. */
  def loadExpenditures(store: GraphStore, expenditures: DataFrame): Unit = {
    val ind = expenditures.filter(col("type") === "independent")
      .withColumn("payee",
        coalesce(up(Names.process_name(col("payee"))), lit("")))
      .withColumn("purpose", coalesce(up(col("purpose")), lit("")))

    // tombstones: every (prev_file_num, tran_id) amended by this batch
    val tombstones = ind.filter(col("prev_file_num").isNotNull)
      .select(col("prev_file_num").as("file_num"), col("tran_id"))
    store.detachDelete("Expenditure", Seq("file_num", "tran_id"), tombstones,
      Seq(
        "SPENT" -> Seq("file_num", "tran_id"),
        "IDENTIFIES" -> Seq("file_num", "tran_id"),
        "PAID" -> Seq("file_num", "tran_id"),
        "EXP_HAPPENED_ON" -> Seq("file_num", "tran_id")))

    // rows whose own key is amended by another row of this batch would
    // be deleted by sequential replay — exclude them up front
    val live = ind.join(
      ind.filter(col("prev_file_num").isNotNull)
        .select(col("prev_file_num").as("file_num"), col("tran_id")),
      Seq("file_num", "tran_id"), "left_anti")

    val dt = col("transaction_dt").cast("date")
    store.mergeVertices("Committee", Seq("cmte_id"),
      live.select(col("cmte_id")).filter(col("cmte_id").isNotNull).distinct())
    store.mergeVertices("Candidate", Seq("cand_id"),
      live.select(col("cand_id")).filter(col("cand_id").isNotNull).distinct())
    store.mergeVertices("Expenditure", Seq("type", "file_num", "tran_id"),
      live.select(col("type"), col("file_num"), col("tran_id"),
        col("transaction_dt"), col("transaction_amt"), col("sup_opp"),
        col("purpose"), col("amndt_ind"), col("image_num")))
    store.mergeVertices("Payee", Seq("name"),
      live.select(col("payee").as("name")).distinct())
    store.mergeVertices("Day", Seq("year", "month", "day"),
      live.filter(dt.isNotNull)
        .select(year(dt).as("year"), month(dt).as("month"),
          dayofmonth(dt).as("day")).distinct())

    store.mergeEdges("SPENT", Seq("cmte_id", "file_num", "tran_id"),
      live.select(col("cmte_id"), col("file_num"), col("tran_id")))
    store.mergeEdges("IDENTIFIES", Seq("file_num", "tran_id", "cand_id"),
      live.select(col("file_num"), col("tran_id"), col("cand_id")))
    store.mergeEdges("PAID", Seq("file_num", "tran_id", "payee"),
      live.select(col("file_num"), col("tran_id"), col("payee")))
    store.mergeEdges("EXP_HAPPENED_ON",
      Seq("file_num", "tran_id", "year", "month", "day"),
      live.filter(dt.isNotNull).select(col("file_num"), col("tran_id"),
        year(dt).as("year"), month(dt).as("month"), dayofmonth(dt).as("day")))
    store.mergeEdges("TARGETS", Seq("cmte_id", "cand_id"),
      live.select(col("cmte_id"), col("cand_id")))
  }

  // ------------------------------------------------- full batch loads

  /** Apply G1-G3 for a candidate batch. */
  def loadCandidates(store: GraphStore, cn: DataFrame): Unit = {
    store.mergeVertices("Candidate", Seq("cand_id"), candidateVertices(cn))
    store.mergeVertices("State", Seq("abbreviation"), stateVertices(cn))
    store.mergeVertices("Party", Seq("abbreviation"), partyVertices(cn))
    store.mergeVertices("Race",
      Seq("type", "cand_election_yr", "cand_office", "cand_office_st",
        "cand_office_district"), raceVertices(cn))
    store.mergeEdges("RUNNING_IN", Seq("cand_id", "abbreviation"),
      runningInEdges(cn))
    store.mergeEdges("CAND_PARTY", Seq("cand_id", "abbreviation"),
      candidatePartyEdges(cn))
    store.mergeEdges("RUNNING_FOR",
      Seq("cand_id", "type", "cand_election_yr", "cand_office",
        "cand_office_st", "cand_office_district"), candidateRaceEdges(cn))
  }

  /** Apply G5-G6 + G4 for a committee/linkage batch. */
  def loadCommittees(store: GraphStore, cm: DataFrame, ccl: DataFrame): Unit = {
    store.mergeVertices("Committee", Seq("cmte_id"), committeeVertices(cm))
    store.mergeEdges("CMTE_PARTY", Seq("cmte_id", "abbreviation"),
      committeePartyEdges(cm))
    store.mergeEdges("CMTE_EMPLOYER", Seq("cmte_id", "name"),
      committeeEmployerEdges(cm))
    store.mergeEdges("LINKAGE", Seq("cmte_id", "cand_id", "linkage_id"),
      linkageEdges(ccl))
  }

  /** Apply G7 for a contributions batch (elastic view rows). */
  def loadContributions(store: GraphStore, elastic: DataFrame): Unit = {
    store.mergeVertices("Contribution", Seq("sub_id"),
      contributionVertices(elastic))
    store.mergeVertices("Donor", Seq("name", "zip_code"),
      donorVertices(elastic))
    store.mergeVertices("Day", Seq("year", "month", "day"),
      dayVertices(elastic))
    val contributed = contributedToEdges(elastic)
    store.mergeEdges("CONTRIBUTED_TO_IN", Seq("src_label", "src_key", "sub_id"),
      contributed.select(col("src_label"), col("src_key"), col("sub_id")))
    store.mergeEdges("CONTRIBUTED_TO_OUT", Seq("sub_id", "target"),
      contributed.select(col("sub_id"), col("target")))
    store.mergeEdges("CONTRIBUTED_TO", Seq("src_label", "src_key", "target"),
      contributed.select(col("src_label"), col("src_key"), col("target")))
    store.mergeEdges("HAPPENED_ON", Seq("sub_id", "year", "month", "day"),
      happenedOnEdges(elastic))
    store.mergeEdges("DONOR_EMPLOYER", Seq("name", "zip_code", "employer"),
      donorEmployerEdges(elastic))
    store.mergeEdges("DONOR_JOB", Seq("name", "zip_code", "occupation"),
      donorJobEdges(elastic))
    store.mergeEdges("LIVES_IN_STATE", Seq("name", "zip_code", "state"),
      donorStateEdges(elastic))
    store.mergeEdges("LIVES_IN_ZIP", Seq("name", "zip_code"),
      donorZipEdges(elastic))
  }
}
