"""Output checks: every timed operation's result is compared with what
the generator predicts or with the query's DuckDB oracle."""

import decimal
import json
import math
import os

CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]


def flatten_summary(summary):
    """{"a": 1, "b": {"c": 2}} -> {"a": 1, "b.c": 2}"""
    flat = {}
    for k, v in summary.items():
        if isinstance(v, dict):
            for k2, v2 in v.items():
                flat[f"{k}.{k2}"] = v2
        else:
            flat[k] = v
    return flat


def read_tsv_map(path):
    with open(path) as fh:
        return {k: int(v) for k, v in (l.rstrip("\n").split("\t") for l in fh if l.strip())}


def summary_diff(expected, got):
    """Keys whose predicted and reported counts differ."""
    exp = flatten_summary(expected)
    return sorted(k for k in set(exp) | set(got) if exp.get(k) != got.get(k))


def amend_batch_errors(expect, lines):
    """Problems with one amendment file's read-back (`sub_id, amount,
    amndt_ind` lines from one store): every amended or new contribution
    must carry its latest amount and indicator."""
    got = {}
    for line in lines:
        sub, amt, amndt = line.split("\t")
        got[sub] = (float(amt), amndt)
    errors = []
    for sub, want in expect.items():
        if sub not in got:
            errors.append(f"{sub} missing")
        elif got[sub] != want:
            errors.append(f"{sub}: got {got[sub]}, want {want}")
    return errors


def end_state_errors(expect, lines):
    """Differences between a store's `sub_id, amount` lines and the
    generator's replay of base files plus every landed amendment."""
    got = {}
    for line in lines:
        sub, amt = line.split("\t")
        got[sub] = float(amt)
    if got == expect:
        return []
    missing = set(expect) - set(got)
    extra = set(got) - set(expect)
    wrong = [s for s in set(got) & set(expect) if got[s] != expect[s]]
    return [f"{len(missing)} missing, {len(extra)} extra, {len(wrong)} wrong amounts"]


# ------------------------------------------------------- query oracles

def _norm(v):
    """A comparable form of one cell from either side: DuckDB's Python
    values or the harness's JSON."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, float) and math.isnan(v) or v == "NaN":
        return ("nan",)
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if hasattr(v, "isoformat"):  # date, time, datetime
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "__len__") and not isinstance(v, (str, bytes)):
        return tuple(_norm(x) for x in v)
    return v


def _cell_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cell_eq(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row):
    return tuple(repr(x) if not isinstance(x, float) else f"{x:.9g}" for x in row)


def canonical(cols, rows):
    """Columns sorted by name, rows normalized and sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=_sort_key)


def result_matches(got, exp):
    """(ok, reason) for two (columns, rows) results: same columns and, as
    multisets, the same rows, floating values equal to nine significant
    digits."""
    gc, gr = canonical(*got)
    ec, er = canonical(*exp)
    if gc != ec:
        return False, f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return False, f"{len(gr)} rows != {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if not all(_cell_eq(x, y) for x, y in zip(a, b)):
            return False, f"row {i}: {a} != {b}"
    return True, ""


def read_result(path):
    """A result the harness recorded: a JSON line of column names, then
    one JSON array per row."""
    with open(path) as fh:
        cols = json.loads(fh.readline())
        return cols, [json.loads(l) for l in fh if l.strip()]


def oracle_check(tables_dir, results_dir, oracle_dir, names):
    """{query: (ok, reason)} for each query's recorded result."""
    import duckdb
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables_dir, t + '.parquet')}')")
    out = {}
    for name in names:
        sql_path = os.path.join(oracle_dir, name + ".sql")
        if not os.path.exists(sql_path):
            out[name] = (False, "no oracle")
            continue
        try:
            cur = con.execute(open(sql_path).read())
            exp = ([d[0] for d in cur.description], cur.fetchall())
            out[name] = result_matches(
                read_result(os.path.join(results_dir, name + ".jsonl")), exp)
        except Exception as e:  # a failing oracle or unreadable result fails the query
            out[name] = (False, f"{type(e).__name__}: {e}")
    con.close()
    return out
