package graft.fec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Dates, Names}
import graft.io.DocStore

/** FEC document-envelope transforms (SURVEY §1.2): the nested
  * `row`/`processed`/`context` documents the reference bulk-upserts
  * into Elasticsearch, as explicit StructType DataFrames.
  *
  * Contribution envelope spec: `federal_fec_compute_load_elastic_
  * contributions/main.py:90-196` — `row.source` is a tagged union
  * (donor | candidate | committee chosen by classification, the
  * non-applicable structs null, like the view's null padding);
  * `processed` carries the UTC-localized date (F6: naive date →
  * America/New_York → UTC) and the canonicalized name;
  * `context` carries lineage timestamps.
  *
  * Linkage docs: `load_elastic_linkages/main.py:42-120` — per-committee
  * and per-candidate arrays of linkage structs, deduped by linkage_id
  * (A3/J7).
  */
object FecDocs {

  private def cmteStruct(prefix: String): Column = struct(
    col(s"${prefix}").as("cmte_id"),
    col(s"${prefix}_cmte_nm").as("cmte_nm"),
    col(s"${prefix}_cmte_zip").as("cmte_zip"),
    col(s"${prefix}_cmte_dsgn").as("cmte_dsgn"),
    col(s"${prefix}_cmte_tp").as("cmte_tp"),
    col(s"${prefix}_cmte_pty_affiliation").as("cmte_pty_affiliation"),
    col(s"${prefix}_cmte_filing_freq").as("cmte_filing_freq"),
    col(s"${prefix}_org_tp").as("org_tp"),
    col(s"${prefix}_connected_org_nm").as("connected_org_nm"))

  /** Envelope docs from the contributions_elastic22 view output.
    * `runTs` stamps context.last_indexed/last_bulked (injected so runs
    * are reproducible; the reference stamps now()). */
  def contributionDocs(elastic: DataFrame, runTs: Column): DataFrame = {
    val isDonor = col("classification").isin("individual", "organization")
    val donor = when(isDonor, struct(
      col("donor_entity_tp").as("entity_tp"),
      col("donor_name").as("name"),
      col("donor_state").as("state"),
      col("donor_zip_code").as("zip_code"),
      col("donor_employer").as("employer"),
      col("donor_occupation").as("occupation")))
    val candidate = when(col("classification") === "candidate", struct(
      col("source").as("cand_id"),
      col("source_cand_name").as("cand_name"),
      col("source_cand_pty_affiliation").as("cand_pty_affiliation"),
      col("source_cand_election_yr").as("cand_election_yr"),
      col("source_cand_office_st").as("cand_office_st"),
      col("source_cand_office").as("cand_office"),
      col("source_cand_office_district").as("cand_office_district"),
      col("source_cand_ici").as("cand_ici"),
      col("source_cand_pcc").as("cand_pcc"),
      col("source_cand_zip").as("cand_zip")))
    val committee = when(col("classification") === "committee", struct(
      col("source").as("cmte_id"),
      col("source_cmte_nm").as("cmte_nm"),
      col("source_cmte_zip").as("cmte_zip"),
      col("source_cmte_dsgn").as("cmte_dsgn"),
      col("source_cmte_tp").as("cmte_tp"),
      col("source_cmte_pty_affiliation").as("cmte_pty_affiliation"),
      col("source_cmte_filing_freq").as("cmte_filing_freq"),
      col("source_org_tp").as("org_tp"),
      col("source_connected_org_nm").as("connected_org_nm")))

    // F6: naive YYYY-MM-DD → America/New_York midnight → UTC instant
    val txUtc = Dates.est_to_utc(col("transaction_dt").cast("timestamp"))
    elastic.select(
      col("sub_id").cast("string").as("doc_id"),
      struct(
        struct(col("classification"), donor.as("donor"),
          candidate.as("candidate"), committee.as("committee")).as("source"),
        struct(cmteStruct("target").as("committee")).as("target"),
        txUtc.as("transaction_dt"),
        col("transaction_amt"), col("amndt_ind"), col("rpt_tp"),
        col("transaction_pgi"), col("transaction_tp"), col("image_num"),
        col("file_num"), col("tran_id"),
        col("sub_id").cast("string").as("sub_id")).as("row"),
      struct(
        txUtc.as("date"),
        when(isDonor, struct(Names.process_name(col("donor_name")).as("name")))
          .as("donor"),
        when(col("classification") === "candidate",
          struct(Names.process_name(col("source_cand_name")).as("cand_name")))
          .as("candidate")).as("processed"),
      struct(
        runTs.as("last_bulked"),
        runTs.as("last_indexed"),
        lit(null).cast("timestamp").as("last_graphed")).as("context"))
  }

  /** Candidate envelope (`load_elastic_candidates/main.py:50-79`). */
  def candidateDocs(cn: DataFrame, runTs: Column): DataFrame =
    cn.select(
      col("cand_id").as("doc_id"),
      struct(cn.columns.map(col): _*).as("row"),
      struct(Names.process_name(col("cand_name")).as("cand_name"))
        .as("processed"),
      struct(runTs.as("last_indexed"),
        lit(null).cast("timestamp").as("last_graphed")).as("context"))

  /** Committee envelope (`load_elastic_committees/main.py:44-70`). */
  def committeeDocs(cm: DataFrame, runTs: Column): DataFrame =
    cm.select(
      col("cmte_id").as("doc_id"),
      struct(cm.columns.map(col): _*).as("row"),
      struct(Names.process_name(col("cmte_nm")).as("cmte_nm"))
        .as("processed"),
      struct(runTs.as("last_indexed"),
        lit(null).cast("timestamp").as("last_graphed")).as("context"))

  /** Candidate financial summaries (weball22 ∪ webl22) keyed for
    * context enrichment. webl (the House/Senate current-campaign
    * slice, identical shape — FecSchemas.scala:52-54) wins over weball
    * when both carry a candidate; within a file the row with the
    * latest coverage end (then highest receipts, a deterministic
    * tie-break) wins. Money + election fields only — identity and
    * address already live in the cn master `row`. */
  def candidateFinancials(weball: DataFrame, webl: DataFrame): DataFrame = {
    val keep = Seq("ttl_receipts", "trans_from_auth", "ttl_disb",
      "trans_to_auth", "coh_bop", "coh_cop", "cand_contrib", "cand_loans",
      "other_loans", "cand_loan_repay", "other_loan_repay", "debts_owed_by",
      "ttl_indiv_contrib", "spec_election", "prim_election", "run_election",
      "gen_election", "gen_election_precent", "other_pol_cmte_contrib",
      "pol_pty_contrib", "cvg_end_dt", "indiv_refunds", "cmte_refunds")
    val all = webl.withColumn("__prio", lit(2)).withColumn("__src", lit("webl"))
      .unionByName(
        weball.withColumn("__prio", lit(1)).withColumn("__src", lit("weball")))
    all.groupBy(col("cand_id"))
      .agg(max_by(
        struct((col("__src").as("src") +: keep.map(col)): _*),
        struct(col("__prio"), Dates.parse_date_mdy(col("cvg_end_dt")),
          col("ttl_receipts"))).as("__s"))
      .select(col("cand_id").as("doc_id"),
        struct((col("__s.src").as("src") +:
          keep.map(c => col(s"__s.$c"))): _*).as("financials"))
  }

  /** PAC financial summaries (webk22) keyed for committee context. */
  def committeeFinancials(webk: DataFrame): DataFrame = {
    val keep = webk.columns.filterNot(Seq("cmte_id", "cmte_nm", "cmte_tp",
      "cmte_dsgn", "cmte_filing_freq").contains).toSeq
    webk.groupBy(col("cmte_id"))
      .agg(max_by(struct(keep.map(col): _*),
        struct(Dates.parse_date_mdy(col("cvg_end_dt")), col("ttl_receipts")))
        .as("__s"))
      .select(col("cmte_id").as("doc_id"),
        struct(keep.map(c => col(s"__s.$c")): _*).as("financials"))
  }

  /** Join a keyed `financials` struct into an envelope's `context`.
    * Summaries are cycle-level dims (thousands of rows at 100 TB fact
    * scale) → broadcast; docs without a summary keep a null struct. */
  def withFinancialContext(docs: DataFrame, financials: DataFrame): DataFrame = {
    val ctxFields = docs.select(col("context.*")).columns.toSeq
    docs.join(broadcast(financials), Seq("doc_id"), "left")
      .withColumn("context", struct(
        (ctxFields.map(f => col(s"context.$f")) :+
          col("financials").as("financials")): _*))
      .drop("financials")
  }

  /** Candidate envelope + weball/webl summary context (the three
    * financial-summary schemas' downstream consumer). */
  def candidateDocsWithFinancials(cn: DataFrame, weball: DataFrame,
      webl: DataFrame, runTs: Column): DataFrame =
    withFinancialContext(candidateDocs(cn, runTs),
      candidateFinancials(weball, webl))

  /** Committee envelope + webk summary context. */
  def committeeDocsWithFinancials(cm: DataFrame, webk: DataFrame,
      runTs: Column): DataFrame =
    withFinancialContext(committeeDocs(cm, runTs), committeeFinancials(webk))

  /** J7/A3: linkage arrays — one doc per committee with its candidate
    * linkages, one per candidate with its committee linkages; each
    * array deduped by linkage_id and sorted for determinism. */
  def committeeLinkageDocs(ccl: DataFrame): DataFrame =
    ccl.dropDuplicates("linkage_id")
      .groupBy(col("cmte_id").as("doc_id"))
      .agg(array_sort(collect_list(struct(
        col("linkage_id"), col("cand_id"), col("cand_election_yr"))))
        .as("candidates"))

  def candidateLinkageDocs(ccl: DataFrame): DataFrame =
    ccl.dropDuplicates("linkage_id")
      .groupBy(col("cand_id").as("doc_id"))
      .agg(array_sort(collect_list(struct(
        col("linkage_id"), col("cmte_id"), col("cmte_tp"), col("cmte_dsgn"))))
        .as("committees"))

  /** J6: incremental load — store only the docs whose key is not in
    * the store yet (the reference's LEFT ANTI against loaded_* progress
    * tables; the LIMIT batching dissolves into one delta). Bucket-pruned
    * via [[DocStore.insertNew]]; returns the number of distinct docs
    * stored (a batch repeating a `doc_id` stores it once, last wins). */
  def loadIncremental(store: DocStore, indexName: String,
      docs: DataFrame): Long =
    store.insertNew(indexName, "doc_id", docs).count()
}
