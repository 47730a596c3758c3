"""Benchmark of graphmatspark: one workload, one Spark process, one JSON line.

    python3 perfbench/run.py --workload ingest_pr|column_catalog \
        --seed N --seconds S --trace 0|1 [--tiny]

Run from the root of a checkout. Builds the program and the harness
(perfbench/build.py), runs perfbench.Harness in a JVM at local[nproc],
checks the column_catalog gates against their DuckDB oracles, and prints
as the last stdout line {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Everything the run writes stays under .bench_build/perfbench; the span trace
of a traced run is kept in .bench_build/perfbench/trace/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_pr", "column_catalog")
HEAP = "2g"
# C1 only: with C2, Spark's planner keeps warming for minutes, so pass times
# drift down by up to 30% over the first passes of a short run; under C1 they
# are flat from the second pass on, at about 10% lower speed.
JIT = "-XX:TieredStopAtLevel=1"
# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def frame_equal(want, got):
    """Same rows regardless of column and row order; values compared at 6 decimals."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols or want.shape != got.shape:
        return False
    w, g = (d[cols].sort_values(cols).reset_index(drop=True) for d in (want, got))
    return bool((w.round(6).astype(str).values == g.round(6).astype(str).values).all())


def oracle_check(res):
    """Check each gate's rows against its DuckDB oracle; returns
    (attempted, failed, failure notes, checks run, oracle seconds)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{res['events']}/*.parquet')")
    attempted = failed = 0
    notes = []
    ran = {}
    secs = 0.0
    for gate in res["gates"]:
        t0 = time.perf_counter()
        want = con.sql(res["oracle_sql"][gate]).df()
        secs += time.perf_counter() - t0
        got = pd.read_parquet(os.path.join(res["out_dir"], gate))
        attempted += 1
        ran[f"oracle rows:{gate}"] = 1
        if not frame_equal(want, got):
            failed += 1
            notes.append(f"{gate}: rows differ from the oracle")
        for n in res["call_counts"].get(gate, []):
            attempted += 1
            ran[f"oracle count:{gate}"] = ran.get(f"oracle count:{gate}", 0) + 1
            if n != len(want):
                failed += 1
                notes.append(f"{gate}: timed call counted {n} rows, oracle {len(want)}")
    return attempted, failed, notes, ran, secs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.build(root)
    base = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", JIT,
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes] + build.spark_jars()), "perfbench.Harness",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--tiny", "1" if a.tiny else "0"])
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: harness exceeded {TIMEOUT_S}s")
        if code != 0:
            raise SystemExit(f"perfbench: harness exited with {code}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        attempted, failed, notes = res["attempted"], res["failed"], list(res["failures"])
        ran = res["checks_run"]
        layers = res["per_layer"]
        if a.workload == "column_catalog":
            oa, of, on, oran, secs = oracle_check(res)
            attempted, failed, notes = attempted + oa, failed + of, notes + on
            ran.update(oran)
            if layers:
                layers["check.reference_s"] = {"value": secs, "unit": "s"}
        if layers:
            layers["check.failed_frac"] = {"value": failed / max(attempted, 1), "unit": "frac"}
        trace_dir = os.path.join(work, "trace")
        if os.path.isdir(trace_dir):
            keep = os.path.join(base, "trace")
            os.makedirs(keep, exist_ok=True)
            for name in os.listdir(trace_dir):
                shutil.move(os.path.join(trace_dir, name), os.path.join(keep, name))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for n in notes:
        print("perfbench: check failed: " + n, file=sys.stderr)
    print("perfbench: checks run: " + json.dumps(ran), file=sys.stderr)
    q = res["result_quartiles_s"]
    print(f"perfbench: {a.workload} seed {a.seed}: {res['passes']} passes, result_s quartiles "
          f"{q}, set-up reps {res['setup_reps_s']} s, warm-up {res['warmup_s']} s, "
          f"session {res['session_s']} s",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": layers if a.trace else res["end_to_end"]}))


if __name__ == "__main__":
    main()
