"""Self-test of the benchmark at sf0.001 (a few minutes on 4 cores):

    python3 perfbench/selftest.py

- every workload runs end to end and traced, checks clean, and prints
  exactly the metrics BENCHMARK.json names, each with its unit;
- a corrupted expected result drives `fail_ratio` above 0;
- in a directory holding only BENCHMARK.json and perfbench/, the benchmark
  exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import run
import workloads

SF = 0.001


def cli(*args: str, cwd: str = run.ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        timeout=600,
    )
    return p.returncode, p.stdout.splitlines()


def check_workloads(spec: dict) -> None:
    for wl in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            args = ["--workload", wl["name"], "--seed", "1", "--seconds", "1", "--trace", str(trace)]
            code, out = cli(*args, "--sf", str(SF))
            assert code == 0, f"{wl['name']} trace={trace}: exit {code}"
            result = json.loads(out[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == {m["name"]: m["unit"] for m in wanted}, (wl["name"], trace, got)
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            print(f"ok: {wl['name']} --trace {trace}", flush=True)


def check_corruption_counts() -> None:
    wl = workloads.BatchWorkload("revision_etl", workloads.WORKLOADS["revision_etl"].queries)
    expect = wl.expect

    def corrupted() -> None:
        expect()
        q = max(wl.expected, key=lambda q: len(wl.expected[q]))
        wl.expected[q] = wl.expected[q].iloc[1:]  # one expected row lost

    wl.expect = corrupted
    run.confine()
    _, result = run.run("revision_etl", 1, 1, True, sf=SF, wl=wl)
    assert not result["correct"] and result["metrics"]["fail_ratio"]["value"] > 0, result
    print(f"ok: corrupted expectation gives fail_ratio {result['metrics']['fail_ratio']['value']:.3f}")


def check_bare_directory() -> None:
    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    code, out = cli("--workload", "revision_etl", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=bare)
    assert code != 0 and not out, (code, out)
    shutil.rmtree(bare)
    print("ok: bare directory exits", code)


def main() -> int:
    sys.path.insert(0, run.ROOT)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_bare_directory()
    check_workloads(spec)
    check_corruption_counts()
    return 0


if __name__ == "__main__":
    sys.exit(main())
