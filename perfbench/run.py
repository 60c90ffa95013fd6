#!/usr/bin/env python3
"""Benchmark of the graft engine: FEC amendment freshness, the analyst
query mix and (by hand) the FEC bulk load, each driven in one JVM at
local[nproc] by a single closed-loop client.

    python3 perfbench/run.py --workload fec_amend --seed 3 --seconds 15 --trace 0

Run from the root of a checkout. The first run compiles the engine and
the harness from source into the build directory (`$CARGO_TARGET_DIR`,
default `.bench_build`); later runs reuse it while the sources are
unchanged. The inputs are generated from `--seed`; every timed operation's
output is checked. The last line of standard output is one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`).
"""

import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import threading
import time

STARTED = time.monotonic()

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks   # noqa: E402
import fecgen   # noqa: E402
import metrics  # noqa: E402

# Sizes are set so one run, set-up included, stays near a minute at
# local[4]: the engine's per-operation cost is dominated by per-job fixed
# cost, so these sizes already put the paths under their steady shape.
FEC_INDIV_LINES = 5_000
AMEND_ROWS = 1_000
CATALOG_SF = 0.01
# `--seconds` buys a fixed amount of timed work at each operation's nominal
# cost at local[4], at least one operation. Fixed work, not a deadline, so
# two commits are compared on the same operations: with a deadline a faster
# commit would time more, warmer operations.
NOMINAL_OP_S = {"fec_bulk": 45.0, "fec_amend": 16.0, "catalog_mix": 5.0}
# The analyst mix: eight queries, one or more per operator family, each
# tagged with the family it stresses. A longer mix does not fit the
# per-run time budget: the first pass in a fresh JVM, which is set-up,
# costs three to five warm passes.
MIX = [
    ("q18_bigorders", "relational"), ("j01_enrich", "relational"),
    ("o05_amendment", "relational"), ("g08_tombstone", "graph"),
    ("doc_tweet_env", "docs"), ("text_search_bm25", "text"),
    ("graph_cc", "graph"), ("ev_sessions", "events"),
]
# Untimed operations before the measured window: passes over the mix, or
# the amendment workload's base-store drain (batch b0000).
WARMUPS = {"fec_bulk": 0, "fec_amend": 1, "catalog_mix": 2}
# The harness is stopped when the whole run reaches this many seconds.
RUN_LIMIT_S = 170
HEAP = "3g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# Every metric's value, computed for any workload; BENCHMARK.json picks the
# ones reported and their units.
PER_LAYER_SPAN_METRICS = ("fec.master", "fec.views", "io.doc_write",
                          "graph.merge", "ops.plan", "ops.exec")
PER_LAYER_NAMES = tuple(f"{n}_s" for n in PER_LAYER_SPAN_METRICS) + (
    "fec.master_keep_ratio", "io.buckets_touched_frac",
    "io.bytes_written_per_input_byte", "graph.buckets_touched_frac",
    "graph.bytes_written_per_input_byte", "graph.files_written",
    "streaming.trigger_overhead_s", "streaming.microbatches",
    "ops.relational_s", "ops.docs_s", "ops.text_s", "ops.graph_s",
    "ops.events_s", "ops.pass_s", "spark.jobs", "spark.tasks",
    "spark.shuffle_bytes", "spark.task_cpu_s", "spark.spill_bytes",
    "spark.gc_s", "store.bytes_per_input_byte", "jvm.peak_rss_mb",
    "op.samples", "op.tail_pct", "op.tail_s", "trace.unattributed_s",
    "trace.covered_frac", "trace.overhead_s")


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def load_spec():
    """BENCHMARK.json: the metrics to report, with their units."""
    try:
        with open("BENCHMARK.json") as fh:
            return json.load(fh)
    except (OSError, ValueError) as e:
        raise BenchError(f"cannot read BENCHMARK.json: {e}")


def spark_jars():
    """The Spark jar directory the project's own build file names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _read("build.sbt"))
    if not m:
        raise BenchError("build.sbt names no Spark jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    res = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                 if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return main, res, harness


def build(build_dir):
    """Compile the engine and the harness unless an identical build exists.
    Returns the class path."""
    if not os.path.isdir("src/main/scala") or not os.path.isfile("build.sbt"):
        raise BenchError("run from the root of a checkout with src/main/scala and build.sbt")
    main, res, harness = sources()
    if not main:
        raise BenchError("no engine sources under src/main/scala")
    h = hashlib.sha256()
    for p in main + res + harness:
        h.update(p.encode() + b"\0" + _read(p, "rb"))
    stamp = h.hexdigest()[:16]
    out = os.path.join(build_dir, "classes-" + stamp)
    jars = os.path.join(spark_jars(), "*")
    cp = [os.path.join(out, "harness"), os.path.join(out, "main"), jars]
    if os.path.exists(os.path.join(out, "ok")):
        return os.pathsep.join(cp)
    for stale in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    for part, srcs, extra in (("main", main, []),
                              ("harness", harness, [os.path.join(out, "main")])):
        os.makedirs(os.path.join(out, part))
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars,
             "scala.tools.nsc.Main",
             "-nowarn", "-d", os.path.join(out, part),
             "-classpath", os.pathsep.join(extra + [jars])] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BenchError(f"compiling {part} failed:\n{r.stdout[-4000:]}")
    for p in res:
        dst = os.path.join(out, "main", os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(os.path.join(out, "ok"), "w"):
        pass
    return os.pathsep.join(cp)


# ------------------------------------------------------------------ inputs

def prepare(workload, seed, work, timed):
    """Generate the inputs for `timed` operations from the seed; returns
    what the checks need afterwards."""
    with open(os.path.join(work, "warmups"), "w") as fh:
        fh.write(str(WARMUPS[workload]))
    if workload in ("fec_bulk", "fec_amend"):
        corpus = fecgen.FecCorpus(seed, FEC_INDIV_LINES)
        info = {"summary": corpus.summary(),
                "bulk_bytes": fecgen.write_files(corpus.bulk, os.path.join(work, "bulk")),
                "fact_lines": len(corpus.bulk["indiv22.txt"]) + len(corpus.bulk["oth22.txt"])}
        if workload == "fec_amend":
            info["base_bytes"], info["batches"] = write_batches(corpus, work, timed)
        return info
    if workload == "catalog_mix":
        import tablegen  # pandas and pyarrow load only where needed
        tables = os.path.join(work, "tables")
        tablegen.write(seed, CATALOG_SF, tables)
        with open(os.path.join(work, "mix.txt"), "w") as fh:
            fh.writelines(f"{n}\t{c}\n" for n, c in MIX)
        return {"tables": tables}
    raise BenchError(f"unknown workload {workload}")


def write_batches(corpus, work, n):
    """Stage the base contribution files as batch b0000, then `n`
    amendment files; returns the base size and the amendment batches with
    their expectations."""
    base = fecgen.write_files({k: corpus.bulk[k] for k in ("indiv22.txt", "oth22.txt")},
                              os.path.join(work, "batches", "b0000"))
    batches = []
    os.makedirs(os.path.join(work, "expect"))
    for b in range(1, n + 1):
        name = f"b{b:04d}"
        lines, expect = corpus.amendment_batch(AMEND_ROWS)
        size = fecgen.write_files({"indiv22.txt": lines},
                                  os.path.join(work, "batches", name))
        with open(os.path.join(work, "expect", name), "w") as fh:
            fh.writelines(f"{s}\n" for s in sorted(expect))
        batches.append({"name": name, "bytes": size, "expect": expect,
                        "fact_lines": len(lines)})
    return base, batches


# ------------------------------------------------------------------ run

def launch(cp, workload, work, timed, trace):
    """Run the harness; returns (records, seconds from launch to `ready`)."""
    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(work, "tmp")
    os.makedirs(local)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS] +
           [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={local}", f"-Djava.io.tmpdir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", cp, "graftbench.Harness", workload, work, str(timed),
            str(trace), cpus])
    t0 = time.monotonic()
    ready = None
    records = []
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        watchdog = threading.Timer(RUN_LIMIT_S - (t0 - STARTED), proc.kill)
        watchdog.start()
        try:
            for line in proc.stdout:
                if line.startswith("@@ "):
                    rec = line[3:].split()
                    if rec == ["ready"]:
                        ready = time.monotonic() - t0
                    records.append(rec)
            rc = proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if time.monotonic() - STARTED >= RUN_LIMIT_S:
        raise BenchError(f"run exceeded {RUN_LIMIT_S} s")
    if rc != 0 or ready is None:
        with open(os.path.join(work, "harness.log")) as fh:
            tail = "".join(l for l in fh.readlines()
                           if "WARN" not in l and "INFO" not in l)[-3000:]
        raise BenchError(f"harness exited with {rc}:\n{tail}")
    return records, ready


# ------------------------------------------------------------------ checks

def verify(workload, seed, work, info, ops):
    """(attempted, failed, problems): every timed operation's output
    checked; problems also lists failed checks outside timed windows."""
    problems = []
    failed_ops = set()
    if workload == "fec_bulk":
        for path in sorted(glob.glob(os.path.join(work, "summary*.tsv"))):
            run = "run" + re.search(r"summary(\d+)", path).group(1)
            bad = checks.summary_diff(info["summary"], checks.read_tsv_map(path))
            if bad:
                problems.append(f"{run}: summary differs from prediction in {bad}")
                failed_ops.add(run)
    elif workload == "fec_amend":
        landed = int(_read(os.path.join(work, "batches_landed"))) - 1
        for b in info["batches"][:landed]:
            for store in ("docs", "graph"):
                errs = checks.amend_batch_errors(b["expect"], _lines(
                    os.path.join(work, "readback", f"{b['name']}.{store}")))
                if errs:
                    problems.append(f"{b['name']} {store}: {errs[:3]}")
                    failed_ops.add(b["name"])
        # the end state must equal one load of the base files plus every
        # landed amendment, as the generator replays it
        replay = fecgen.FecCorpus(seed, FEC_INDIV_LINES)
        for _ in range(landed):
            replay.amendment_batch(AMEND_ROWS)
        for store in ("docs", "graph"):
            errs = checks.end_state_errors(replay.contribution_state(), _lines(
                os.path.join(work, f"end_state.{store}")))
            problems += [f"end state of {store}: {e}" for e in errs]
    elif workload == "catalog_mix":
        ref = _digests(os.path.join(work, "digests0.tsv"))
        oracle = checks.oracle_check(info["tables"], os.path.join(work, "results"),
                                     os.path.join(work, "oracles"), [n for n, _ in MIX])
        for n, (ok, why) in oracle.items():
            if not ok:
                problems.append(f"{n}: oracle mismatch: {why}")
        passes = int(_read(os.path.join(work, "passes")))
        for p in range(1, passes):
            for n, d in _digests(os.path.join(work, f"digests{p}.tsv")).items():
                if d != ref.get(n) or not oracle[n][0]:
                    failed_ops.add(n + f"@pass{p}")
                    if d != ref.get(n):
                        problems.append(f"{n} pass {p}: result differs from the checked one")
    failed = len({o["name"] for o in ops} & failed_ops)
    return len(ops), failed, problems


def _read(path, mode="r"):
    with open(path, mode) as fh:
        return fh.read()


def _lines(path):
    with open(path) as fh:
        return [l.rstrip("\n") for l in fh if l.strip()]


def _digests(path):
    return {l.split("\t")[0]: l.split("\t")[1] for l in _lines(path)}


# ------------------------------------------------------------------ report

def timed_ops(records):
    """Timed operations in order; a query's name carries its pass
    (`q18_bigorders@pass2`)."""
    return [{"name": r[2], "s": float(r[3]), "traced": r[4] == "1"}
            for r in records if r[0] == "op"]


def end_to_end(ops, setup_s):
    times = [o["s"] for o in ops]
    return {"setup_s": setup_s, "op_p50_s": metrics.median(times),
            "op_geomean_s": math.exp(sum(math.log(t) for t in times) / len(times))}


def per_layer(workload, work, info, ops, records, rss_mb):
    layer = {r[1]: float(r[2]) for r in records if r[0] == "layer"}
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))
    spans = metrics.read_spans(os.path.join(work, "spans.tsv")) \
        if os.path.exists(os.path.join(work, "spans.tsv")) else []
    self_s = {k: v / 1e9 for k, v in metrics.self_times(spans).items()}
    root = sum((e - s) / 1e9 for _, _, p, name, s, e in spans
               if p == 0 and name.startswith("op."))
    roots_self = sum(v for k, v in self_s.items() if k.startswith("op."))
    out = dict.fromkeys(PER_LAYER_NAMES, 0.0)
    out["jvm.peak_rss_mb"] = rss_mb
    for name in PER_LAYER_SPAN_METRICS:
        out[name + "_s"] = self_s.get(name, 0.0) / n
    out["streaming.trigger_overhead_s"] = self_s.get("streaming.trigger", 0.0) / n
    out["streaming.microbatches"] = layer.get("streaming.microbatches", 0.0) / n
    for k in ("spark.jobs", "spark.tasks", "spark.shuffle_bytes",
              "spark.task_cpu_s", "spark.spill_bytes", "spark.gc_s"):
        out[k] = layer.get(k, 0.0) / n
    for pre in ("io", "graph"):
        total = layer.get(f"{pre}.buckets_total", 0.0)
        out[f"{pre}.buckets_touched_frac"] = \
            layer.get(f"{pre}.buckets_touched", 0.0) / total if total else 0.0
    out["graph.files_written"] = layer.get("graph.files_written", 0.0) / n
    if workload == "fec_bulk":
        input_bytes = info["bulk_bytes"] * len(traced)
        fact_lines = info["fact_lines"] * len(traced)
        stored = [int(_read(p)) for p in glob.glob(os.path.join(work, "store_bytes*"))]
        out["store.bytes_per_input_byte"] = metrics.median(stored) / info["bulk_bytes"]
    elif workload == "fec_amend":
        by_name = {b["name"]: b for b in info["batches"]}
        input_bytes = sum(by_name[o["name"]]["bytes"] for o in traced)
        fact_lines = sum(by_name[o["name"]]["fact_lines"] for o in traced)
        store = sum(os.path.getsize(p) for p in
                    glob.glob(os.path.join(work, "store", "**"), recursive=True)
                    if os.path.isfile(p) and not p.endswith(".crc"))
        landed = int(_read(os.path.join(work, "batches_landed"))) - 1
        out["store.bytes_per_input_byte"] = store / (
            info["base_bytes"] + sum(b["bytes"] for b in info["batches"][:landed]))
    else:
        input_bytes = fact_lines = 0
        passes = {o["name"].split("@")[1] for o in traced}
        for cat in {c for _, c in MIX}:
            out[f"ops.{cat}_s"] = layer.get(f"ops.{cat}_s", 0.0) / max(1, len(passes))
        out["ops.pass_s"] = sum(o["s"] for o in traced) / max(1, len(passes))
    if input_bytes:
        out["io.bytes_written_per_input_byte"] = layer.get("io.bytes_written", 0.0) / input_bytes
        out["graph.bytes_written_per_input_byte"] = \
            layer.get("graph.bytes_written", 0.0) / input_bytes
    if fact_lines:
        out["fec.master_keep_ratio"] = layer.get("fec.master_rows", 0.0) / fact_lines
    times = [o["s"] for o in ops]
    out["op.samples"] = float(len(times))
    tail = metrics.tail_percentile(len(times))
    if tail:
        out["op.tail_pct"] = tail
        out["op.tail_s"] = metrics.nearest_rank(times, tail)
    if root:
        out["trace.unattributed_s"] = roots_self / n
        out["trace.covered_frac"] = 1.0 - roots_self / root
    out["trace.overhead_s"] = layer.get("trace.overhead_s", 0.0) / n
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    try:
        spec = load_spec()
        cp = build(build_dir)
        work = os.path.abspath(os.path.join(
            build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}"))
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            timed = max(1, round(args.seconds / NOMINAL_OP_S[args.workload]))
            t0 = time.monotonic()
            info = prepare(args.workload, args.seed, work, timed)
            gen_s = time.monotonic() - t0
            records, ready_s = launch(cp, args.workload, work, timed, args.trace)
            for r in records:
                if r[0] == "setup":
                    print(f"set-up {r[1]}: {float(r[2]):.2f} s", file=sys.stderr)
            print(f"set-up input generation: {gen_s:.2f} s", file=sys.stderr)
            ops = timed_ops(records)
            print("timed: " + " ".join(f"{o['s']:.3f}" for o in ops), file=sys.stderr)
            if not ops:
                raise BenchError("no timed operation completed")
            attempted, failed, problems = verify(args.workload, args.seed, work, info, ops)
            rss = next(float(r[1]) for r in records if r[0] == "rss_mb")
            if args.trace:
                values = per_layer(args.workload, work, info, ops, records, rss)
            else:
                values = end_to_end(ops, gen_s + ready_s)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    listed = spec["per_layer" if args.trace else "end_to_end"]
    unknown = [m["name"] for m in listed if m["name"] not in values]
    if unknown:
        print(f"benchmark failed: BENCHMARK.json names unknown metrics {unknown}",
              file=sys.stderr)
        return 2
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in listed}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
