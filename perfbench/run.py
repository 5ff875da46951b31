#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds graft and the harness from
source (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py), then runs the harness JVM: set-up, an untimed
warm-up pass whose outputs are checked against the DuckDB oracle SQL of
each SparkEntry query, and at least two timed passes, more while fewer
than S seconds have passed, one operation at a time. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1` (which also writes
the span file under .bench_runs/traces/). The line before it carries
the input sizes and the remaining figures of the run.

Workloads (see perfbench/README.md):
  driver_sf01       job-floor bound: shmr-core and k-hop (an eager
                    checkpoint loop) queries at sf0.1, then
                    versioned-warehouse patches, each followed by point
                    lookups, range and time-travel reads.
  corpus_amplified  data-bound: LLM-data queries over a 4x amplified corpus
                    (20,000 documents, 8,000 vectors).
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {
    "driver_sf01": gen.star_schema,
    "corpus_amplified": gen.amplified_corpus,
}
SETUPS = 3  # workload set-up repeats per run; setup_s uses their median
JVM_TIMEOUT_S = 150
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SCAN_KINDS = ("range", "version")
# operations a pass runs and checks but wall_s leaves out: the final full
# read and the warehouse's maintenance fold
UNTIMED_KINDS = ("check", "fold")


def metric_units() -> tuple:
    """Units of the end-to-end and per-layer metrics, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


def best_pass_wall(ops) -> float:
    """Wall time of one pass with every operation at its best: for each
    operation name, its time within a pass, minimised over the untraced
    timed passes, summed over names (the min-over-passes rule of graft's
    Bench, which takes JIT and GC noise out)."""
    per = {}
    for o in ops:
        if o["ok"] and not o["traced"] and o["kind"] not in UNTIMED_KINDS:
            key = (o["name"], o["pass"])
            per[key] = per.get(key, 0.0) + o["ms"]
    best = {}
    for (name, _), ms in per.items():
        best[name] = min(ms, best.get(name, ms))
    return sum(best.values()) / 1000.0


def op_spark(timed, cores) -> dict:
    """Per operation name over the traced passes: its share of the
    cores' time spent in tasks, its mean wall with no Spark job running
    and its mean job count; a job-floor-bound operation keeps the cores
    mostly idle."""
    out = {}
    for name in sorted({o["name"] for o in timed if o["traced"]}):
        rs = [o for o in timed if o["traced"] and o["name"] == name]
        wall = sum(o["ms"] for o in rs)
        out[name] = {"core_busy_frac": sum(o["task_ms"] for o in rs) / max(1e-9, wall * cores),
                     "driver_gap_ms": sum(o["gap_ms"] for o in rs) / len(rs),
                     "jobs": sum(o["jobs"] for o in rs) / len(rs),
                     "ms": wall / len(rs)}
    return out


def input_sizes(d: str) -> dict:
    import pyarrow.parquet as pq
    return {os.path.basename(f)[:-8]: {"rows": pq.ParquetFile(f).metadata.num_rows,
                                       "bytes": os.path.getsize(f)}
            for f in sorted(glob.glob(os.path.join(d, "*.parquet")))}


def oracle_check(oracle_sql: dict, input_dir: str, check_dir: str) -> dict:
    """Compare each checked output with its DuckDB oracle: columns sorted
    by name, rows sorted, values compared exactly as strings. Returns
    query name -> failure message."""
    import duckdb
    con = duckdb.connect()
    for f in glob.glob(os.path.join(input_dir, "*.parquet")):
        t = os.path.basename(f)[:-8]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    failures = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            exp = con.execute(sql).fetchdf()
            got = con.execute(
                f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')").fetchdf()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            failures[name] = f"oracle: {e}"[:300]
            continue
        ec, gc = sorted(exp.columns), sorted(got.columns)
        if ec != gc:
            failures[name] = f"columns {gc} vs oracle {ec}"
            continue
        e = exp[ec].sort_values(ec).reset_index(drop=True)
        g = got[gc].sort_values(gc).reset_index(drop=True)
        if len(e) != len(g):
            failures[name] = f"rows {len(g)} vs oracle {len(e)}"
        elif (e.astype(str) != g.astype(str)).any().any():
            failures[name] = "values differ from the oracle"
    return failures


def run_jvm(classes: str, jars: str, work: str, argv: list, log_path: str) -> None:
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Main"] + argv)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM exited with {rc}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.perf_counter()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(build_dir)
    jars = build.spark_jars()

    runs = os.path.join(ROOT, ".bench_runs")
    work = os.path.join(runs, f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        for sub in ("tmp", "check"):
            os.makedirs(os.path.join(work, sub))
        input_dir = os.path.join(work, "input")
        os.makedirs(input_dir)
        t0 = time.perf_counter()
        WORKLOADS[args.workload](args.seed, input_dir)
        gen_s = time.perf_counter() - t0
        spans = os.path.join(runs, "traces", f"{args.workload}-seed{args.seed}.json")
        if args.trace:
            os.makedirs(os.path.dirname(spans), exist_ok=True)
        result_path = os.path.join(work, "result.json")
        cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        run_jvm(classes, jars, work, [
            f"workload={args.workload}", f"seed={args.seed}", f"seconds={args.seconds}",
            f"trace={args.trace}", f"cores={cores}", f"input={input_dir}", f"setups={SETUPS}",
            f"work={work}", f"out={result_path}", f"spans={spans}"],
            os.path.join(work, "jvm.log"))
        with open(result_path) as f:
            res = json.load(f)
        res["jvm_s"] = time.perf_counter() - t0
        report(args, res, input_dir, gen_s, cores, spans, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, res, input_dir, gen_s, cores, spans, work, started) -> None:
    e2e_units, layer_units = metric_units()
    wl = res["workload"]
    oracle_failures = {}
    if "oracle_sql" in wl:
        missing = sorted(set(wl["checked"]) - set(wl["oracle_sql"]))
        oracle_failures = {n: "no oracle SQL" for n in missing}
        oracle_failures.update(
            oracle_check(wl["oracle_sql"], input_dir, os.path.join(work, "check")))
    timed = [o for o in res["ops"] if o["pass"] >= 0]
    for o in res["ops"]:
        if o["name"] in oracle_failures:
            o["ok"], o["error"] = False, oracle_failures[o["name"]]
    failed = [o for o in timed if not o["ok"]]
    warm_failed = [o for o in res["ops"] if o["pass"] < 0 and not o["ok"]]
    attempted = len(timed)
    walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]

    def kind_ms(kinds):
        return [o["ms"] for o in timed if o["ok"] and not o["traced"] and o["kind"] in kinds]

    info = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "inputs": input_sizes(input_dir),
        "setup": {"session_s": res["session_s"], "generate_s": gen_s,
                  "prepare_s": res["prepare_s"]},
        "warmup_s": res["warmup_s"], "passes": res["passes"],
        "wall_median_s": median(walls),
        "op_ms": {n: median([o["ms"] for o in timed if o["name"] == n and not o["traced"]])
                  for n in sorted({o["name"] for o in timed})},
        "failed_frac": len(failed) / max(1, attempted),
        "peak_storage_mb": res["peak_storage_mb"],
        "failures": sorted({f"{o['name']}: {o['error']}" for o in failed + warm_failed})[:10],
    }
    if "write_amp" in wl:
        lookups = kind_ms(("lookup",))
        info.update({
            "write_p50_s": median(kind_ms(("patch",))) / 1000.0,
            "lookup_p50_ms": median(lookups), "lookup_p90_ms": percentile(lookups, 90),
            "lookup_p95_ms": percentile(lookups, 95),
            "lookups": len(lookups), "scan_p50_ms": median(kind_ms(SCAN_KINDS)),
            "write_amp": wl["write_amp"], "space_amp": wl["space_amp"],
            "storage": {k: wl[k] for k in ("bytes_under_root", "drop_bytes", "live_rows",
                                           "delta_layers_mean", "rows_upserted")}})
    if args.trace:
        info["spans_file"] = os.path.relpath(spans, ROOT)
        info["op_spark"] = op_spark(timed, cores)
        info["trace_overhead_s"] = res["layers"]["run.trace_overhead_s"]
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in layer_units.items()}
    else:
        values = {
            "setup_s": res["session_s"] + median(res["prepare_s"]),
            "wall_s": best_pass_wall(timed),
            "ok_frac": (attempted - len(failed)) / max(1, attempted),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in e2e_units.items()}
    info["jvm_s"] = res["jvm_s"]
    info["run_s"] = time.perf_counter() - started
    print(json.dumps(info))
    print(json.dumps({"correct": not failed and not warm_failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
