package graft.fec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** FEC bulk-table schema registry + readers (SURVEY §1.1, S3-S5).
  *
  * Schemas re-declared from the reference's load-job definitions at
  * `federal_fec_ingest_import_bigquery/main.py:44-363`; BigQuery
  * STRING/FLOAT/INTEGER map to StringType/DoubleType/LongType.
  * Pipe-delimited `.txt` files carry no header and no quoting
  * (`main.py:27-30`); CSVs are quoted with one header row (`:31-33`).
  */
object FecSchemas {

  private def st(names: String*): StructType =
    StructType(names.map { n =>
      val (name, tpe) = n.splitAt(n.indexOf(':'))
      StructField(name, tpe.drop(1) match {
        case "f" => DoubleType
        case "i" => LongType
        case _   => StringType
      }, nullable = true)
    })

  /** weball22 — all-candidate financial summary (main.py:44-76). */
  val weball: StructType = st(
    "cand_id:s", "cand_name:s", "cand_ici:s", "pty_cd:s",
    "cand_pty_affiliation:s", "ttl_receipts:f", "trans_from_auth:f",
    "ttl_disb:f", "trans_to_auth:f", "coh_bop:f", "coh_cop:f",
    "cand_contrib:f", "cand_loans:f", "other_loans:f",
    "cand_loan_repay:f", "other_loan_repay:f", "debts_owed_by:f",
    "ttl_indiv_contrib:f", "cand_office_st:s", "cand_office_district:s",
    "spec_election:s", "prim_election:s", "run_election:s",
    "gen_election:s", "gen_election_precent:f",
    "other_pol_cmte_contrib:f", "pol_pty_contrib:f", "cvg_end_dt:s",
    "indiv_refunds:f", "cmte_refunds:f")

  /** cn22 — candidate master (main.py:77-94). */
  val cn: StructType = st(
    "cand_id:s", "cand_name:s", "cand_pty_affiliation:s",
    "cand_election_yr:i", "cand_office_st:s", "cand_office:s",
    "cand_office_district:s", "cand_ici:s", "cand_status:s",
    "cand_pcc:s", "cand_st1:s", "cand_st2:s", "cand_city:s",
    "cand_st:s", "cand_zip:s")

  /** ccl22 — candidate-committee linkage (main.py:95-104). */
  val ccl: StructType = st(
    "cand_id:s", "cand_election_yr:i", "fec_election_yr:i", "cmte_id:s",
    "cmte_tp:s", "cmte_dsgn:s", "linkage_id:i")

  /** webl22 — House/Senate current campaigns, declared from its OWN
    * reference definition (main.py:105-137), not aliased to weball22
    * (main.py:44-76): the two column lists coincide TODAY, but the
    * reference declares them separately, so a reference-side divergence
    * must surface as a schema diff here instead of being silently
    * absorbed by a shared object (round-11 honest-limits ledger #4,
    * closed). A registry spec asserts the declarations are independent
    * objects whose fields happen to match. */
  val webl: StructType = st(
    "cand_id:s", "cand_name:s", "cand_ici:s", "pty_cd:s",
    "cand_pty_affiliation:s", "ttl_receipts:f", "trans_from_auth:f",
    "ttl_disb:f", "trans_to_auth:f", "coh_bop:f", "coh_cop:f",
    "cand_contrib:f", "cand_loans:f", "other_loans:f",
    "cand_loan_repay:f", "other_loan_repay:f", "debts_owed_by:f",
    "ttl_indiv_contrib:f", "cand_office_st:s", "cand_office_district:s",
    "spec_election:s", "prim_election:s", "run_election:s",
    "gen_election:s", "gen_election_precent:f",
    "other_pol_cmte_contrib:f", "pol_pty_contrib:f", "cvg_end_dt:s",
    "indiv_refunds:f", "cmte_refunds:f")

  /** cm22 — committee master (main.py:138-155). */
  val cm: StructType = st(
    "cmte_id:s", "cmte_nm:s", "tres_nm:s", "cmte_st1:s", "cmte_st2:s",
    "cmte_city:s", "cmte_st:s", "cmte_zip:s", "cmte_dsgn:s", "cmte_tp:s",
    "cmte_pty_affiliation:s", "cmte_filing_freq:s", "org_tp:s",
    "connected_org_nm:s", "cand_id:s")

  /** webk22 — PAC summary (main.py:156-185). */
  val webk: StructType = st(
    "cmte_id:s", "cmte_nm:s", "cmte_tp:s", "cmte_dsgn:s",
    "cmte_filing_freq:s", "ttl_receipts:f", "trans_from_aff:f",
    "indv_contrib:f", "other_pol_cmte_contrib:f", "cand_contrib:f",
    "cand_loans:f", "ttl_loans_received:f", "ttl_disb:f",
    "tranf_to_aff:f", "indv_refunds:f", "other_pol_cmte_refunds:f",
    "cand_loan_repay:f", "loan_repay:f", "coh_bop:f", "coh_cop:f",
    "debts_owed_by:f", "nonfed_trans_received:f",
    "contrib_to_other_cmte:f", "ind_exp:f", "pty_coord_exp:f",
    "nonfed_share_exp:f", "cvg_end_dt:s")

  /** indiv22 — individual contributions fact (main.py:186-209). */
  val indiv: StructType = st(
    "cmte_id:s", "amndt_ind:s", "rpt_tp:s", "transaction_pgi:s",
    "image_num:s", "transaction_tp:s", "entity_tp:s", "name:s",
    "city:s", "state:s", "zip_code:s", "employer:s", "occupation:s",
    "transaction_dt:s", "transaction_amt:f", "other_id:s", "tran_id:s",
    "file_num:i", "memo_cd:s", "memo_text:s", "sub_id:i")

  /** pas222 — committee→candidate contributions (main.py:210-234):
    * indiv schema + cand_id after other_id. */
  val pas2: StructType = st(
    "cmte_id:s", "amndt_ind:s", "rpt_tp:s", "transaction_pgi:s",
    "image_num:s", "transaction_tp:s", "entity_tp:s", "name:s",
    "city:s", "state:s", "zip_code:s", "employer:s", "occupation:s",
    "transaction_dt:s", "transaction_amt:f", "other_id:s", "cand_id:s",
    "tran_id:s", "file_num:i", "memo_cd:s", "memo_text:s", "sub_id:i")

  /** oth22 — inter-committee transactions (main.py:235-258), same cols
    * as indiv22. */
  val oth: StructType = indiv

  /** oppexp22 — operating expenditures (main.py:259-287); trailing
    * `empty` column from the bulk file's trailing delimiter. */
  val oppexp: StructType = st(
    "cmte_id:s", "amndt_ind:s", "rpt_yr:i", "rpt_tp:s", "image_num:s",
    "line_num:s", "form_tp_cd:s", "sched_tp_cd:s", "name:s", "city:s",
    "state:s", "zip_code:s", "transaction_dt:s", "transaction_amt:f",
    "transaction_pgi:s", "purpose:s", "category:s", "category_desc:s",
    "memo_cd:s", "memo_text:s", "entity_tp:s", "sub_id:i", "file_num:i",
    "tran_id:s", "back_ref_tran_id:s", "empty:s")

  /** independent_expenditure_2022 — headered CSV (main.py:288-313). */
  val independentExpenditure: StructType = st(
    "can_id:s", "can_nam:s", "spe_id:s", "spe_nam:s", "ele_typ:s",
    "can_off_sta:s", "can_off_dis:s", "can_off:s", "can_par_aff:s",
    "exp_amo:f", "exp_dat:s", "agg_amo:f", "sup_opp:s", "pur:s",
    "pay:s", "file_num:i", "amn_ind:s", "tra_id:s", "ima_num:s",
    "rec_dt:s", "fec_election_yr:i", "prev_file_num:i", "dissem_dt:s")

  /** ElectioneeringComm_2022 — headered CSV (main.py:314-335). */
  val electioneering: StructType = st(
    "candidate_id:s", "candidate_name:s", "candidate_office:s",
    "candidate_state:s", "candidate_office_district:s", "committee_id:s",
    "committee_name:s", "sb_image_num:s", "payee_name:s",
    "payee_street:s", "payee_city:s", "payee_state:s",
    "disbursement_description:s", "disbursement_date:s",
    "communication_date:s", "public_distribution_date:s",
    "reported_disbursement_amount:f", "number_of_candidates:i",
    "calculated_candidate_share:f")

  /** CommunicationCosts_2022 — headered CSV (main.py:336-363). */
  val communicationCosts: StructType = st(
    "cmte_id:s", "cmte_name:s", "candidate_id:s", "candidate_name:s",
    "candidate_office:s", "candidate_office_state:s",
    "candidate_office_district:s", "cand_pty_affiliation:s",
    "transaction_dt:s", "transaction_amt:f", "transaction_tp:s",
    "communication_tp:s", "communication_class:s",
    "support_oppose_ind:s", "image_num:s", "line_num:i", "form_tp_cd:s",
    "sched_tp_cd:s", "tran_id:s", "sub_id:i", "file_num:i", "rpt_yr:i",
    "cand_state_description:s", "cand_pty_affiliation_description:s",
    "purpose:s")

  /** S5: schema-by-table-name dispatch (the reference routes on the
    * leading path segment of the bulk file). */
  val registry: Map[String, StructType] = Map(
    "weball22" -> weball, "cn22" -> cn, "ccl22" -> ccl, "webl22" -> webl,
    "cm22" -> cm, "webk22" -> webk, "indiv22" -> indiv, "pas222" -> pas2,
    "oth22" -> oth, "oppexp22" -> oppexp,
    "independent_expenditure_2022" -> independentExpenditure,
    "ElectioneeringComm_2022" -> electioneering,
    "CommunicationCosts_2022" -> communicationCosts)

  /** S5 dispatcher: route a bulk file to its schema+format by table
    * name; `.txt` → pipe text (S3), else quoted CSV with one header row
    * (S4). */
  def readBulkFile(spark: SparkSession, table: String,
      path: String): DataFrame = {
    val reader = spark.read.schema(schemaOf(table))
    if (path.endsWith(".txt")) reader.options(pipeText).csv(path)
    else reader.option("header", "true").option("quote", "\"").csv(path)
  }

  /** The quarantined pipe-text scan over an in-memory line Dataset: a
    * PERMISSIVE parse whose malformed raw lines land in a
    * `_corrupt_record` column instead of failing the load (the
    * reference's BQ load job fails the whole file on a bad row; at
    * 100 TB a single bad row must not kill the batch). This is the
    * shape a fixture synthesizer produces. Returns (clean rows,
    * quarantined raw lines, the CACHED parse they both read): the input
    * is scanned once for both sides, and the caller unpersists the
    * third element once its counts are materialized (a catalog row that
    * re-runs per pass must not accumulate dead cached relations). */
  def readPipeTextLinesQuarantined(spark: SparkSession, table: String,
      lines: org.apache.spark.sql.Dataset[String])
      : (DataFrame, DataFrame, DataFrame) = {
    val bad = org.apache.spark.sql.functions.col("_corrupt_record")
    val cached = spark.read
      .schema(StructType(schemaOf(table).fields :+
        StructField("_corrupt_record", StringType, nullable = true)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .options(pipeText).csv(lines).cache()
    (cached.filter(bad.isNull).drop("_corrupt_record"),
      cached.filter(bad.isNotNull).select(bad), cached)
  }

  private def schemaOf(table: String): StructType =
    registry.getOrElse(table,
      throw new IllegalArgumentException(s"unexpected file: $table"))

  /** The one pipe-text parser setup, shared by the batch readers and
    * the `fecpipe` stream: delimiter `|`, quoting off, no header
    * (`main.py:27-30`). */
  private[graft] val pipeText: Map[String, String] =
    Map("delimiter" -> "|", "quote" -> "", "header" -> "false")
}
