#!/usr/bin/env python3
"""The repository benchmark: three workloads timed from outside the
program through its public functions.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--ledger <file.json>]
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

Run from the repository root. One run builds the program if needed
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py) in a fresh directory under .bench_build/runs, starts
one local-mode JVM (graftbench.Main) with one client and one operation in
flight, checks the outputs, removes the run directory and prints, as its
last line, {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are the per-layer ledger (see perfbench/README.md).
`failed` counts failed operations plus failed output checks, so
fail_frac = failed / attempted.
"""
import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
JVM_TIMEOUT_S = 165
# The heap has a fixed size (-Xms = -Xmx) and is touched at start
# (AlwaysPreTouch), so all of it is resident for the whole run and VmHWM
# minus the heap is the peak of the rest: metaspace, code cache, threads,
# off-heap buffers. peak_rss_mb adds to that the heap's peak occupancy
# after a collection, which follows the program's data and not this size.
# A fixed young generation makes collections come every YOUNG bytes of
# allocation, so that peak is sampled often: with G1 sizing the young
# generation itself (up to 60% of the heap) a query_mix run had about 15
# collections, and the peak was 300, 617 or 997 MB depending on where they
# fell.
HEAP = "3g"
YOUNG = "256m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def tail(samples):
    """Highest percentile with at least 10 samples beyond it: the 11th
    largest sample, at percentile (n - 10) / n. Below 20 samples no
    percentile at or above the median has 10 beyond it; the largest
    sample is reported then, as percentile 100."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(res, launch):
    ops = [o for o in res["ops"] if o["ok"]]
    if not ops:
        return {}, {}
    secs = [o["secs"] for o in ops]
    busy = sum(secs)
    t, pct, n = tail(secs)
    m = {
        "setup_s": res["first_op_epoch"] - launch,
        "rows_per_s": sum(o["rows"] for o in ops) / busy,
        "queries_per_s": len(ops) / busy,
        "op_p50_s": statistics.median(secs),
        "op_tail_s": t,
        "peak_rss_mb": res["vm_hwm_mb"] - res["heap_committed_mb"]
                       + res["heap_after_gc_peak_mb"],
        "bytes_written_per_input_byte":
            sum(o["out_bytes"] for o in ops) / sum(o["in_bytes"] for o in ops),
    }
    return m, {"tail_percentile": round(pct, 2), "tail_samples": n}


def oracle_checks(res, tables):
    """Hash each dumped query result against its oracle SQL in DuckDB,
    with tools/check.py's canonical hash (sorted columns, sorted rows)."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(os.listdir(tables)):
        name = t[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(tables, t)}'")
    out = []
    for q, o in res["oracle"].items():
        try:
            spark = pd.read_parquet(o["dir"])
            duck = con.sql(o["sql"]).df()
            over = check.int64_overflow_cols(spark)
            if over:
                out.append((q, False, f"int64 overflow in {over}"))
            elif sorted(spark.columns) != sorted(duck.columns):
                out.append((q, False, "columns differ"))
            elif len(spark) != len(duck):
                out.append((q, False, f"rows {len(spark)} vs {len(duck)}"))
            else:
                ok = check.frame_hash(spark)[0] == check.frame_hash(duck)[0]
                out.append((q, ok, f"{len(spark)} rows"
                            + ("" if ok else ", hash mismatch")))
        except Exception as e:  # a query the oracle cannot run fails
            out.append((q, False, f"{type(e).__name__}: {e}"[:300]))
    con.close()
    return out


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def launch_jvm(cp, run_dir, args):
    """Start the benchmark JVM; return (launch epoch, result dict)."""
    tmp = os.path.join(run_dir, "work", "tmp")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        launch = time.time()
        # few malloc arenas (glibc defaults to 8 per core), so that less of
        # the native peak depends on which threads happened to allocate
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL,
                             env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(os.path.join(run_dir, "result.json")) as f:
        return launch, json.load(f)


def run_one(workload, seed, seconds, trace, ledger=None):
    cp, src_digest = build.build()
    run_dir = os.path.join(build.BUILD, "runs",
                           f"{workload}-{seed}-{os.getpid()}")
    if os.path.exists(run_dir):
        raise SystemExit(f"{run_dir} already exists")
    os.makedirs(run_dir)
    try:
        inputs = os.path.join(run_dir, "inputs")
        manifest = gen.generate(workload, seed, inputs)
        launch, res = launch_jvm(cp, run_dir, [
            "--workload", workload, "--inputs", inputs,
            "--work", os.path.join(run_dir, "work"),
            "--seconds", str(seconds), "--trace", str(trace),
            "--seed", str(seed),
            "--out", os.path.join(run_dir, "result.json")])
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if res["oracle"]:
            checks += oracle_checks(res, os.path.join(inputs, "tables"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed_ops = [o for o in res["ops"] if not o["ok"]]
    failed = len(failed_ops) + sum(1 for c in checks if not c[1])
    attempted = max(1, len(res["ops"]))
    e2e, tail_info = end_to_end(res, launch)
    if trace:
        metrics = res["layers"]
    else:
        metrics = e2e
    stamp = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "nproc": os.cpu_count(), "cores": res["cores"],
        "git_sha": git_sha(), "source_sha256": src_digest,
        "jdk": res["java_version"], "spark": res["spark_version"],
        "python": platform.python_version(), "heap": HEAP,
        "input_rows": manifest["rows"], "input_bytes": manifest["bytes"],
        "input_sha256": manifest["sha256"],
        "ops": len(res["ops"]), "fail_frac": failed / attempted,
        "setup_parts": res["setup_parts"], **tail_info,
        "memory_mb": {k: res[k] for k in ("vm_hwm_mb", "heap_committed_mb",
                                          "heap_after_gc_peak_mb")},
        "gc_count": res["gc_count"],
        "failures": [o["name"] + ": " + o["error"] for o in failed_ops]
                    + [f"{n}: {d}" for n, ok, d in checks if not ok],
    }
    correct = failed == 0 and len(res["ops"]) > 0 and len(metrics) > 0
    line = {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]}
                        for k, v in metrics.items() if k in UNITS}}
    if ledger:
        busy = sum(v for k, v in res["layers"].items() if k.endswith(".busy_s"))
        with open(ledger, "w") as f:
            json.dump({"stamp": stamp, "end_to_end_of_this_run": e2e,
                       "checks": checks, "metrics": res["layers"],
                       "layer_busy_sum_s": busy,
                       "traced_ops_wall_s": sum(o["secs"] for o in res["ops"])},
                      f, indent=1, sort_keys=True)
    return stamp, line


def show(stamp, line):
    print(json.dumps({"stamp": stamp}, sort_keys=True))
    for k, v in line["metrics"].items():
        print(f"  {stamp['workload']:13s} {k:40s} {v['value']:14.6g} {v['unit']}")
    print(f"  {stamp['workload']:13s} {'fail_frac':40s} "
          f"{stamp['fail_frac']:14.6g} ratio")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=list(gen.WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ledger", help="also write stamp, checks and metrics "
                                     "of the run to this JSON file")
    a = ap.parse_args()
    os.chdir(ROOT)
    if a.workload != "all":
        stamp, line = run_one(a.workload, a.seed, a.seconds, a.trace,
                              a.ledger)
        show(stamp, line)
        print(json.dumps(line))
        return
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in gen.WORKLOADS:
        stamp, line = run_one(w, a.seed, a.seconds, a.trace)
        show(stamp, line)
        total["correct"] &= line["correct"]
        total["attempted"] += line["attempted"]
        total["failed"] += line["failed"]
        total["metrics"].update(
            {f"{w}.{k}": v for k, v in line["metrics"].items()})
    print(json.dumps(total))


if __name__ == "__main__":
    main()
