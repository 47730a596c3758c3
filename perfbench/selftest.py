"""Tiny-input self-test of the benchmark.

    python3 perfbench/selftest.py        # from the root of a checkout

Runs every workload of BENCHMARK.json on tiny inputs, untraced and traced,
and asserts for each run that its last stdout line is the result object,
that every check of the workload ran and passed, and that it prints exactly
the metrics BENCHMARK.json names, each with its unit. Then asserts that the
benchmark fails, without printing a result, in a directory that holds only
BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys

# the checks each workload must report as run, by name prefix
EXPECTED_CHECKS = {
    "ingest_pr": ["core.derive", "gatherscatter.build", "gatherscatter.pr supersteps",
                  "gatherscatter.pr ranks", "gatherscatter.materialise"],
    "column_catalog": ["oracle rows:", "oracle count:"],
}


def run(cmd, cwd):
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)
    return p.returncode, p.stdout, p.stderr


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for wl in bench["workloads"]:
        name = wl["name"]
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", name, "--seed", "7", "--seconds", "1",
                                      "--trace", str(trace), "--tiny"]
            code, out, err = run(cmd, root)
            assert code == 0, f"{name} trace {trace}: exit {code}\n{err[-3000:]}"
            res = json.loads(out.strip().splitlines()[-1])
            assert sorted(res) == ["attempted", "correct", "failed", "metrics"], res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            ran = json.loads(next(line for line in err.splitlines()
                                  if line.startswith("perfbench: checks run: "))
                             .split(": ", 2)[2])
            for prefix in EXPECTED_CHECKS[name]:
                assert any(k.startswith(prefix) and n > 0 for k, n in ran.items()), \
                    f"{name}: no check {prefix!r} ran ({ran})"
            want = {m["name"]: m["unit"] for m in sets[trace]}
            got = res["metrics"]
            assert set(got) == set(want), f"{name} trace {trace}: {set(got) ^ set(want)}"
            for metric, unit in want.items():
                v = got[metric]
                assert v["unit"] == unit, f"{metric}: unit {v['unit']} != {unit}"
                assert isinstance(v["value"], (int, float)), f"{metric}: {v}"
            if trace:
                frac = got["trace.layer_sum_frac"]["value"]
                assert 0.9 <= frac <= 1.1, f"{name}: layer self times sum to {frac} of result_s"
            print(f"selftest: {name} trace {trace}: ok, {res['attempted']} calls checked")

    bare = os.path.join(root, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    name = bench["workloads"][0]["name"]
    code, out, _ = run(bench["command"] + ["--workload", name, "--seed", "7", "--seconds", "1",
                                          "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and '"correct"' not in out, f"bare directory: exit {code}, stdout {out!r}"
    print("selftest: bare directory: fails without a result, ok")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"selftest: FAILED: {e}", file=sys.stderr)
        sys.exit(1)
