#!/usr/bin/env python3
"""The benchmark's own check. Run from the root of a checkout:

    python3 perfbench/test_smoke.py

Runs every workload at `--size smoke`, untraced and traced, and checks the
result lines against BENCHMARK.json; checks that on elt_incremental each
batch's groups plus app.run.other_s sum to app.run.wall_s; and checks that
a directory holding only BENCHMARK.json and perfbench/ makes the command
fail without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
ELT_GROUPS = ["etl.audit", "etl.staging", "etl.touched_months", "marts.state", "marts.present"]


def run(workload, trace, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace)]
    if cwd == ROOT:
        cmd += ["--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(p, names):
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(names), set(result["metrics"]) ^ set(names)
    return result


def main():
    e2e = [m["name"] for m in SPEC["end_to_end"]]
    per_layer = [m["name"] for m in SPEC["per_layer"]]
    for w in [w["name"] for w in SPEC["workloads"]]:
        r = check_result(run(w, 0), e2e)
        assert all(v["value"] > 0 for v in r["metrics"].values()), r
        p = run(w, 1)
        check_result(p, per_layer)
        if w == "elt_incremental":
            detail = next(json.loads(ln)["detail"] for ln in p.stderr.splitlines()
                          if ln.startswith('{"detail"'))
            for batch in detail["batch_layers"]:
                covered = sum(batch.get(f"{g}.wall_s", 0.0) for g in ELT_GROUPS)
                total = covered + batch["app.run.other_s"]
                assert abs(total - batch["app.run.wall_s"]) < 1e-6, batch
                assert batch["app.run.other_s"] >= 0, batch
        print(f"ok {w}", flush=True)

    bare = os.path.join(ROOT, ".bench_build", "bare-check")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("target", "project/target", "project/project"))
    p = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, (p.returncode, p.stdout)
    print("ok bare directory fails without a result")


if __name__ == "__main__":
    sys.exit(main())
