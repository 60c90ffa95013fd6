"""Seeded generator for FEC bulk files and late-amendment batches.

The same seed always yields byte-identical files. Besides the files, the
generator keeps the logical rows it wrote, so it can predict, by plain
arithmetic over those rows, every count `FecPipeline.run` reports and the
state the stores must reach after each amendment batch.

Edge cases the reference's bulk data carries, all kept here:
  * exact duplicate lines (collapse in the master DISTINCT);
  * memo rows (`memo_cd = X`, excluded from the master tables);
  * malformed lines (two stray trailing fields; Spark's permissive CSV
    scan keeps the first 21 fields, so they load like the clean line);
  * 9-digit, zero and empty zips;
  * MMDDYYYY dates, some empty;
  * independent-expenditure amendment chains that tombstone through
    `prev_file_num`;
  * skewed donor reuse (a few donors give most of the money).
"""

import os
import random

STATES = ["CA", "TX", "NY", "FL", "WA", "IL", "MA", "PA", "OH", "GA",
          "NC", "MI", "AZ", "CO", "VA", "NJ", "MN", "OR", "WI", "NV"]
PARTIES = ["DEM", "REP", "IND", "LIB", "GRE"]
LASTS = ["SMITH", "JOHNSON", "WILLIAMS", "BROWN", "JONES", "GARCIA",
         "MILLER", "DAVIS", "RODRIGUEZ", "MARTINEZ", "HERNANDEZ", "LOPEZ",
         "GONZALEZ", "WILSON", "ANDERSON", "THOMAS", "TAYLOR", "MOORE",
         "JACKSON", "MARTIN", "LEE", "PEREZ", "THOMPSON", "WHITE", "HARRIS",
         "SANCHEZ", "CLARK", "RAMIREZ", "LEWIS", "ROBINSON", "WALKER",
         "YOUNG", "ALLEN", "KING", "WRIGHT", "SCOTT", "TORRES", "NGUYEN",
         "HILL", "FLORES"]
FIRSTS = ["JAMES", "MARY", "ROBERT", "PATRICIA", "JOHN", "JENNIFER",
          "MICHAEL", "LINDA", "DAVID", "ELIZABETH", "WILLIAM", "BARBARA",
          "RICHARD", "SUSAN", "JOSEPH", "JESSICA", "THOMAS", "SARAH",
          "CHARLES", "KAREN", "CHRISTOPHER", "LISA", "DANIEL", "NANCY",
          "MATTHEW", "BETTY", "ANTHONY", "MARGARET", "MARK", "SANDRA"]
EMPLOYERS = ["SELF-EMPLOYED", "RETIRED", "NONE", "ACME CORP", "GLOBEX",
             "INITECH", "UMBRELLA LLC", "STATE UNIVERSITY", "CITY HOSPITAL",
             "HOOLI", "STARK INDUSTRIES", "WAYNE ENTERPRISES"]
JOBS = ["RETIRED", "ATTORNEY", "PHYSICIAN", "ENGINEER", "TEACHER",
        "CONSULTANT", "CEO", "HOMEMAKER", "NOT EMPLOYED", "PROFESSOR",
        "SALES", "NURSE"]
CITIES = ["SPRINGFIELD", "RIVERSIDE", "FRANKLIN", "GREENVILLE", "BRISTOL",
          "CLINTON", "FAIRVIEW", "SALEM", "MADISON", "GEORGETOWN"]
MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP",
          "OCT", "NOV", "DEC"]
PAYEES = ["MEDIA BUYERS INC", "AD CO", "MAILHOUSE LLC", "PRINT SHOP",
          "DIGITAL REACH", "PHONE BANKERS", "SIGN MAKERS", "TV PARTNERS",
          "RADIO ONE", "CANVASS CREW"]
PURPOSES = ["TV ADS", "RADIO", "MAILERS", "DIGITAL ADS", "PHONE CALLS",
            "YARD SIGNS", "CANVASSING", "PRINT ADS"]
OPEX_PURPOSES = [("OFFICE SUPPLIES", "ADM", "Administrative"),
                 ("TRAVEL", "TRV", "Travel"),
                 ("PAYROLL", "ADM", "Administrative"),
                 ("CONSULTING", "CON", "Consulting"),
                 ("RENT", "ADM", "Administrative")]

SUB_ID_BASE = 4_000_000_000_000_000_000  # fits a signed 64-bit long
IE_FILE_BASE = 1_500_000


# ------------------------------------------------ engine semantics, mirrored

_END_TITLES = [" MR", " MS", " MRS", " HON", " ESQ", " REV", " FR", " DR",
               " DR ND", " DR DO", " MD", " JD", " MBA", " PHD", " RET",
               " (RET)", " MSGT", " USAF", " USN", " CDR", " SGT", " MAJ",
               " THE"]
_GEN_SUFFIXES = [" JR", " SR", " II", " III", " IV"]


def _rte(name):
    for t in _END_TITLES:
        if name.endswith(t):
            return name[:len(name) - len(t)]
    return name


def process_name(raw):
    """The FEC name canonicalization that defines Donor identity."""
    if raw is None:
        return None
    name = raw.upper().replace(".", "")
    if name.endswith(", LLC"):
        name = name.replace(", LLC", " LLC")
    if name.endswith(", INC"):
        name = name.replace(", INC", " INC")
    name = _rte(_rte(_rte(name)))
    if "," in name:
        rte4 = lambda s: _rte(_rte(_rte(_rte(s))))
        sfx = next((s for s in _GEN_SUFFIXES if name.endswith(s)), None)
        base = name[:len(name) - len(sfx)] if sfx else name
        parts = base.split(",")
        first = parts[1] if len(parts) > 1 else ""
        name = rte4(first) + " " + rte4(parts[0]) + (sfx or "")
    name = name.replace("  ", " ").strip()
    if name.startswith("DR "):
        name = name[3:]
    return name


def clean_zip(z):
    """Donor zip identity after the master table's 5-character cut."""
    if z is None or z == "":
        return ""
    z = z[:5]
    if z.strip().isdigit():
        n = int(z.strip())
        return "" if n == 0 else str(n).zfill(5)
    return z.zfill(5)


def is_disbursement(tp):
    return tp[:1] in ("2", "4") and tp not in ("24I", "24T")


def classify(f):
    """(classification, source, target) of a master contribution row, or
    None when no classification view keeps it. `f` maps field -> value,
    with empty fields as None (Spark reads empty CSV fields as null)."""
    ent, oid, tp, cmte = f["entity_tp"], f["other_id"], f["transaction_tp"], f["cmte_id"]
    disb = is_disbursement(tp)
    if cmte is None:
        return None
    if ent == "CAN" and oid and not oid.startswith("C") and not disb:
        return ("candidate", oid, cmte)
    if ent == "IND" and not disb and f["name"]:
        return ("individual", None, cmte)
    if ent == "ORG" and oid is None and not disb and f["name"]:
        return ("organization", None, cmte)
    if ent in ("CCM", "COM", "PAC", "PTY") and oid:
        return ("committee", cmte, oid) if disb else ("committee", oid, cmte)
    if ent == "CAN" and oid and oid.startswith("C") and disb:
        return ("committee", cmte, oid)
    if ent == "ORG" and oid and oid.startswith("C"):
        return ("committee", cmte, oid) if disb else ("committee", oid, cmte)
    return None


INDIV_FIELDS = ["cmte_id", "amndt_ind", "rpt_tp", "transaction_pgi",
                "image_num", "transaction_tp", "entity_tp", "name", "city",
                "state", "zip_code", "employer", "occupation",
                "transaction_dt", "transaction_amt", "other_id", "tran_id",
                "file_num", "memo_cd", "memo_text", "sub_id"]
IE_FIELDS = ["can_id", "can_nam", "spe_id", "spe_nam", "ele_typ",
             "can_off_sta", "can_off_dis", "can_off", "can_par_aff",
             "exp_amo", "exp_dat", "agg_amo", "sup_opp", "pur", "pay",
             "file_num", "amn_ind", "tra_id", "ima_num", "rec_dt",
             "fec_election_yr", "prev_file_num", "dissem_dt"]


def _nulls(values, names):
    return {n: (v if v != "" else None) for n, v in zip(names, values)}


# ----------------------------------------------------------- generation

class FecCorpus:
    """Logical FEC corpus for one seed: dims, facts and amendment history.

    `indiv_lines` sets the size; every other table scales from it."""

    def __init__(self, seed, indiv_lines):
        self.rng = random.Random(f"fec-bulk-{seed}")
        self.n_indiv = indiv_lines
        self._dims()
        self._donors()
        self.contribs = {}      # sub_id -> field dict (latest version)
        self.contrib_order = []  # sub_ids in filing order
        self.next_sub = SUB_ID_BASE + self.rng.randrange(10 ** 6) * 10 ** 6
        self.ie_rows = []       # every IE row ever filed, as field dicts
        self.ie_heads = []      # (file_num, tran_id) of live chain heads
        self.next_file = IE_FILE_BASE
        self.next_tran = 1
        self.bulk = self._bulk_lines()

    # dims ---------------------------------------------------------------
    def _dims(self):
        r = self.rng
        n_cand = max(12, self.n_indiv // 400)
        n_cmte = max(16, self.n_indiv // 150)
        self.cands = []
        for i in range(n_cand):
            office = "HHHSP"[i % 5]
            st = STATES[r.randrange(len(STATES))]
            dist = f"{r.randrange(1, 13):02d}" if office == "H" else "00"
            cid = f"{office}2{st}{i:05d}"
            self.cands.append({
                "cand_id": cid,
                "cand_name": f"{LASTS[r.randrange(len(LASTS))]}, "
                             f"{FIRSTS[r.randrange(len(FIRSTS))]}",
                "pty": PARTIES[min(r.randrange(8), 4)],
                "yr": "2022", "st": st, "office": office, "dist": dist,
                "ici": "ICO"[r.randrange(3)]})
        self.cmtes = []
        for i in range(n_cmte):
            cand = self.cands[i] if i < n_cand else None
            self.cmtes.append({
                "cmte_id": f"C{i + 1:08d}",
                "cmte_nm": (f"FRIENDS OF {cand['cand_name'].split(',')[0]}"
                            if cand else f"PAC NUMBER {i}"),
                "tres_nm": f"{LASTS[r.randrange(len(LASTS))]}, "
                           f"{FIRSTS[r.randrange(len(FIRSTS))]}",
                "city": CITIES[r.randrange(len(CITIES))],
                "st": STATES[r.randrange(len(STATES))],
                "zip": f"{r.randrange(10000, 99999)}",
                "dsgn": "P" if cand else "UBD"[r.randrange(3)],
                "tp": cand["office"] if cand else "QNO"[r.randrange(3)],
                "pty": cand["pty"] if cand else ("" if r.random() < .5 else
                                                 PARTIES[r.randrange(5)]),
                "freq": "QM"[r.randrange(2)],
                "org_tp": "" if cand else "CLMTVW"[r.randrange(6)],
                "conn": "" if cand or r.random() < .6 else
                        EMPLOYERS[r.randrange(3, len(EMPLOYERS))],
                "cand_id": cand["cand_id"] if cand else ""})
            if cand:
                cand["pcc"] = f"C{i + 1:08d}"
        self.ccl = []
        link = 200001
        for c in self.cands:
            self.ccl.append((c["cand_id"], c["pcc"], c["office"], "P", link))
            link += 1
            if r.random() < .3:
                m = self.cmtes[r.randrange(len(self.cmtes))]
                if m["cmte_id"] != c["pcc"]:
                    self.ccl.append((c["cand_id"], m["cmte_id"], m["tp"],
                                     m["dsgn"], link))
                    link += 1

    def _donors(self):
        r = self.rng
        n = max(60, self.n_indiv // 4)
        self.donors = []
        for i in range(n):
            if i % 12 == 11:
                name = f"{LASTS[i % len(LASTS)]} HOLDINGS {i}, LLC"
                ent = "ORG"
            else:
                sfx = " MR" if i % 29 == 0 else ""
                name = f"{LASTS[r.randrange(len(LASTS))]}{i}, " \
                       f"{FIRSTS[r.randrange(len(FIRSTS))]}{sfx}"
                ent = "IND"
            self.donors.append({
                "name": name, "ent": ent,
                "city": CITIES[r.randrange(len(CITIES))],
                "state": STATES[r.randrange(len(STATES))],
                "zip": f"{r.randrange(10000, 99999)}",
                "emp": EMPLOYERS[r.randrange(len(EMPLOYERS))],
                "job": JOBS[r.randrange(len(JOBS))]})

    # facts --------------------------------------------------------------
    def _pick_donor(self):
        # skewed reuse: u**3 piles most picks onto the first donors
        return self.donors[int(len(self.donors) * self.rng.random() ** 3)]

    def _date(self):
        r = self.rng
        if r.random() < .02:
            return ""
        return f"{r.randrange(1, 13):02d}{r.randrange(1, 29):02d}2022"

    def _zip_variant(self, z):
        u = self.rng.random()
        if u < .70:
            return z
        if u < .90:
            return z + f"{self.rng.randrange(10000):04d}"
        return "0" if u < .95 else ""

    def _new_sub(self):
        self.next_sub += 1 + self.rng.randrange(50)
        return str(self.next_sub)

    def _indiv_fact(self, amend="N"):
        r = self.rng
        cm = self.cmtes[r.randrange(len(self.cmtes))]["cmte_id"]
        u = r.random()
        if u < .04:  # candidate self-funding: CAN with a candidate other_id
            cand = self.cands[r.randrange(len(self.cands))]
            name, ent, oid = cand["cand_name"], "CAN", cand["cand_id"]
            city, st, z, emp, job = "SPRINGFIELD", cand["st"], "20001", "", ""
        else:
            d = self._pick_donor()
            name, ent, oid = d["name"], d["ent"], ""
            city, st, z = d["city"], d["state"], self._zip_variant(d["zip"])
            emp, job = (d["emp"], d["job"]) if ent == "IND" else ("", "")
        tp = "15" if r.random() < .8 else ["15E", "15C", "24T", "22Y"][r.randrange(4)]
        amt = r.choice(["25", "50", "100", "250", "500", "1000", "2900"]) \
            if r.random() < .85 else f"{r.randrange(100, 500000) / 100:.2f}"
        sub = self._new_sub()
        return [cm, amend, "Q2", "P2022", f"2022{sub[-11:]}", tp, ent, name,
                city, st, z, emp, job, self._date(), amt, oid,
                f"SA{sub[-8:]}", str(1_400_000 + r.randrange(90_000)),
                "", "", sub]

    def _oth_fact(self):
        r = self.rng
        a, b = r.sample(range(len(self.cmtes)), 2)
        cm, oid = self.cmtes[a]["cmte_id"], self.cmtes[b]["cmte_id"]
        u = r.random()
        if u < .55:
            ent, tp = ["COM", "PAC", "PTY", "CCM"][r.randrange(4)], "18K"
        elif u < .80:
            ent, tp = ["COM", "PAC"][r.randrange(2)], "24K"
        elif u < .90:
            ent, tp = "ORG", ["18J", "24Z"][r.randrange(2)]
        else:
            ent, tp = "CAN", "24C"
        name = self.cmtes[b]["cmte_nm"]
        sub = self._new_sub()
        return [cm, "N", "Q2", "G2022", f"2022{sub[-11:]}", tp, ent, name,
                self.cmtes[b]["city"], self.cmtes[b]["st"], self.cmtes[b]["zip"],
                "", "", self._date(), str(r.randrange(1, 200) * 250), oid,
                f"SB{sub[-8:]}", str(1_400_000 + r.randrange(90_000)),
                "", "", sub]

    def _fact_lines(self, make, n, file_lines):
        """Append `n` clean facts plus the dirt around them; record the
        logical rows that reach the master table."""
        r = self.rng
        for _ in range(n):
            f = make()
            line = "|".join(f)
            u = r.random()
            if u < .04:  # memo itemization: never reaches the master
                f[18], f[19] = "X", "* EARMARKED CONTRIBUTION"
                file_lines.append("|".join(f))
                continue
            if u < .045:  # malformed: two stray trailing fields
                file_lines.append(line + "|XTRA|XTRA")
            else:
                file_lines.append(line)
            if r.random() < .015:  # exact duplicate re-submission
                file_lines.append(line)
            d = _nulls(f, INDIV_FIELDS)
            self.contribs[f[20]] = d
            self.contrib_order.append(f[20])

    def _ie_fact(self, prev=None):
        r = self.rng
        if prev is None:
            cand = self.cands[r.randrange(len(self.cands))]
            spender = self.cmtes[r.randrange(len(self.cmtes))]
            tran = f"IE{self.next_tran:07d}"
            self.next_tran += 1
            amn, prev_file, amt = "N", "", r.randrange(5, 400) * 100
        else:
            cand = next(c for c in self.cands if c["cand_id"] == prev["can_id"])
            spender = next(m for m in self.cmtes if m["cmte_id"] == prev["spe_id"])
            tran, amn, prev_file = prev["tra_id"], "A", prev["file_num"]
            amt = int(float(prev["exp_amo"])) + r.randrange(1, 50) * 100
        self.next_file += 1 + r.randrange(3)
        day = r.randrange(1, 29)
        mon = MONTHS[r.randrange(12)]
        exp_dat = "" if r.random() < .02 else f"{day:02d}-{mon}-22"
        row = [cand["cand_id"], cand["cand_name"], spender["cmte_id"],
               spender["cmte_nm"], "G", cand["st"], cand["dist"],
               cand["office"], cand["pty"], f"{amt}.00", exp_dat, f"{amt}.00",
               "SO"[r.randrange(2)], PURPOSES[r.randrange(len(PURPOSES))],
               PAYEES[r.randrange(len(PAYEES))], str(self.next_file), amn,
               tran, f"2022{self.next_file:011d}", f"{min(day + 1, 28):02d}-{mon}-22",
               "2022", prev_file, ""]
        return _nulls(row, IE_FIELDS), row

    def _apply_ie(self, d):
        """Record one IE filing; an amendment replaces its chain head."""
        self.ie_rows.append(d)
        if d["prev_file_num"] is not None:
            self.ie_heads.remove((d["prev_file_num"], d["tra_id"]))
        self.ie_heads.append((d["file_num"], d["tra_id"]))

    def _bulk_lines(self):
        r = self.rng
        files = {}
        files["cn22.txt"] = [
            "|".join([c["cand_id"], c["cand_name"], c["pty"], c["yr"], c["st"],
                      c["office"], c["dist"], c["ici"], "C", c["pcc"], "", "",
                      CITIES[i % len(CITIES)], c["st"], f"{10000 + i * 7}"])
            for i, c in enumerate(self.cands)]
        files["cm22.txt"] = [
            "|".join([m["cmte_id"], m["cmte_nm"], m["tres_nm"], "", "",
                      m["city"], m["st"], m["zip"], m["dsgn"], m["tp"], m["pty"],
                      m["freq"], m["org_tp"], m["conn"], m["cand_id"]])
            for m in self.cmtes]
        files["ccl22.txt"] = [
            f"{c}|2022|2022|{m}|{tp}|{dsgn}|{link}"
            for c, m, tp, dsgn, link in self.ccl]
        indiv, oth = [], []
        self._fact_lines(self._indiv_fact, self.n_indiv, indiv)
        self._fact_lines(self._oth_fact, self.n_indiv // 10, oth)
        files["indiv22.txt"] = indiv
        files["oth22.txt"] = oth
        opp = []
        self.n_opex = 0
        for i in range(max(20, self.n_indiv // 20)):
            m = self.cmtes[r.randrange(len(self.cmtes))]
            purpose, cat, desc = OPEX_PURPOSES[r.randrange(len(OPEX_PURPOSES))]
            memo = "X" if r.random() < .05 else ""
            self.n_opex += memo == ""
            sub = self._new_sub()
            opp.append("|".join([
                m["cmte_id"], "N", "2022", "Q2", f"2022{sub[-11:]}", "17",
                "F3X", "SB", PAYEES[r.randrange(len(PAYEES))],
                CITIES[r.randrange(len(CITIES))], STATES[r.randrange(len(STATES))],
                f"{r.randrange(10000, 99999)}{r.randrange(10000):04d}",
                f"{r.randrange(1, 13)}/{r.randrange(1, 29)}/2022",
                f"{r.randrange(100, 900000) / 100:.2f}", "P2022", purpose, cat,
                desc, memo, "", "ORG", sub, str(1_400_000 + i), f"SB17.{i}", "",
                ""]))
        files["oppexp22.txt"] = opp
        ie = []
        for _ in range(max(20, self.n_indiv // 50)):
            heads = self.ie_heads
            prev = None
            if heads and r.random() < .3:
                fn, tr = heads[r.randrange(len(heads))]
                prev = next(x for x in reversed(self.ie_rows)
                            if x["file_num"] == fn and x["tra_id"] == tr)
            d, row = self._ie_fact(prev)
            self._apply_ie(d)
            ie.append(",".join(_csv(v) for v in row))
        files["independent_expenditure_2022.csv"] = [",".join(IE_FIELDS)] + ie
        return files

    # amendments ---------------------------------------------------------
    def amendment_batch(self, rows=1000):
        """Next late-data file of contributions: (pipe lines, expect).

        Two in five rows re-file an existing sub_id (`amndt_ind = A`, new
        amount), biased toward recently filed keys; the rest are new
        contributions with the bulk files' dirt (memo rows, duplicates,
        malformed lines). `expect` maps every amended or new doc to its
        amount and amendment indicator, for the read-back check."""
        r = self.rng
        n_refile = rows * 2 // 5
        order = self.contrib_order
        chosen = set()
        while len(chosen) < n_refile:  # recent keys first: u**3 from the end
            chosen.add(order[len(order) - 1 - int(len(order) * r.random() ** 3)])
        lines, expect = [], {}
        for sub in sorted(chosen):
            d = dict(self.contribs[sub])
            d["amndt_ind"] = "A"
            d["transaction_amt"] = str(int(float(d["transaction_amt"])) + 5 +
                                       r.randrange(100))
            self.contribs[sub] = d
            lines.append("|".join("" if d[k] is None else d[k] for k in INDIV_FIELDS))
            if classify(d):
                expect[sub] = (float(d["transaction_amt"]), "A")
        filed_before = len(order)
        self._fact_lines(self._indiv_fact, rows - n_refile, lines)
        for sub in order[filed_before:]:
            if classify(self.contribs[sub]):
                expect[sub] = (float(self.contribs[sub]["transaction_amt"]), "N")
        return lines, expect

    # predictions ----------------------------------------------------------
    def master_rows(self):
        return [self.contribs[s] for s in self.contrib_order]

    def summary(self):
        """Every count `FecPipeline.run` reports, predicted from the
        logical rows (the bulk files alone, before any amendment)."""
        rows = self.master_rows()
        elastic, donors, cto, dated = 0, set(), set(), 0
        for f in rows:
            c = classify(f)
            if c is None:
                continue
            elastic += 1
            dated += f["transaction_dt"] is not None
            cls, src, tgt = c
            if cls in ("individual", "organization"):
                key = (process_name(f["name"]).strip(), clean_zip(f["zip_code"]))
                donors.add(key)
                cto.add(("Donor", f"{key[0]}|{key[1]}", tgt))
            else:
                cto.add(("Committee" if cls == "committee" else "Candidate",
                         src, tgt))
        live = [d for d in self.ie_rows
                if (d["file_num"], d["tra_id"]) in set(self.ie_heads)]
        races = {(c["yr"], c["office"], c["st"], c["dist"]) for c in self.cands}
        return {
            "masterContributions": len(rows),
            "masterExpenditures": self.n_opex + len(self.ie_rows),
            "elasticRows": elastic,
            "docIndexes": {
                "federal_fec_candidates": len(self.cands),
                "federal_fec_committees": len(self.cmtes),
                "federal_fec_contributions": elastic},
            "graphVertices": {
                "Candidate": len(self.cands), "Committee": len(self.cmtes),
                "Contribution": elastic, "Donor": len(donors),
                "State": len({c["st"] for c in self.cands}),
                "Party": len({c["pty"] for c in self.cands}),
                "Race": len(races), "Expenditure": len(live)},
            "graphEdges": {
                "RUNNING_IN": len(self.cands), "RUNNING_FOR": len(self.cands),
                "CAND_PARTY": len(self.cands), "LINKAGE": len(self.ccl),
                "CONTRIBUTED_TO_IN": elastic, "CONTRIBUTED_TO_OUT": elastic,
                "CONTRIBUTED_TO": len(cto), "HAPPENED_ON": dated,
                "SPENT": len(live), "IDENTIFIES": len(live), "PAID": len(live),
                "TARGETS": len({(d["spe_id"], d["can_id"]) for d in live})}}

    def contribution_state(self):
        """sub_id -> latest amount of every classified contribution: what
        the doc index and the Contribution vertices must hold after the
        base files and every amendment so far."""
        return {s: float(self.contribs[s]["transaction_amt"])
                for s in self.contrib_order if classify(self.contribs[s])}


def _csv(v):
    return f'"{v}"' if ("," in v or '"' in v) else v


def write_files(files, out_dir):
    """Write {name: lines} as newline-terminated files; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, lines in sorted(files.items()):
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total
