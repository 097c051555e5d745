"""hedera_spark benchmark: one workload per run, end to end or traced.

    python3 perfbench/run.py --workload revision_etl --seed 1 --seconds 6 --trace 0

A run stages the workload's inputs from `--seed` under `.perfbench/` in the
checkout and computes the expected outputs, starts a session at
`local[<cores>]`, warms up with two full passes on those same inputs, then
runs as many timed passes as fill `--seconds` at the speed of the last
warm-up pass. Every output of every pass, warm-up included, is checked; a
wrong or failed output counts in `failed`.

`--trace 0` prints the end-to-end metrics; `--trace 1` runs untraced and
traced passes in pairs, in ABBA order, and prints the per-layer metrics from
the traced ones, the tracing overhead among them, and writes the spans to
`.perfbench/spans-<workload>-<seed>.json`. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; the line
before it records the seed, the core count, the load average and the
pass times.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SF = 0.01  # sf0.01: 60k lineitem rows, 10k events, 500 documents

WARMUP_PASSES = 2  # the first pass compiles; the second still ran ~20% slow
TRACE_PAIRS = 3  # at least this many untraced/traced pass pairs with --trace 1
END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
# every per-layer metric, printed for every workload; a layer a workload
# does not touch reads 0 there
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.reset_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "sources.load_jobs": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_tasks": "count",
    "operators.exec_s": "s",
    "operators.exec_jobs": "count",
    "operators.exec_stages": "count",
    "operators.exec_tasks": "count",
    "operators.failed_tasks": "count",
    "operators.result_rows": "count",
    "streaming.batches": "count",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.rows_read_per_row_landed": "ratio",
    "streaming.events_per_s": "1/s",
    "streaming.microbatch_ms_p50": "ms",
    "streaming.partitioned_batch_ms_p50": "ms",
    "streaming.compacted_batch_ms_p50": "ms",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "fail_ratio": "ratio",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """PER_LAYER plus one `operators.<module>_s` per operator module that
    any workload runs."""
    mods = sorted({m for wl in workloads.WORKLOADS.values() for m in wl.modules()})
    return {**PER_LAYER, **{f"operators.{m}_s": "s" for m in mods}}


def boot_clock() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_start() -> float:
    """This process's start on the boot clock, from /proc/self/stat."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def peak_rss_mb(pid: int) -> float:
    """The process's peak resident set (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024


def tail_summary(xs: list[float]) -> str:
    """The median and the highest percentile with at least ten samples
    beyond it."""
    out = f"p50={np.percentile(xs, 50):.4g}"
    for p in (99, 95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            return f"{out} p{p}={np.percentile(xs, p):.4g} (n={len(xs)})"
    return f"{out} (n={len(xs)}: no higher percentile has ten samples beyond it)"


def confine() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and read timestamps back in UTC like the oracles do."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        # Spark's default driver heap, not the session's 8g: the inputs
        # need far less, and a heap free to grow to 8g makes peak RSS swing
        # with GC timing
        SPARK_DRIVER_MEMORY="1g",
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # no /tmp/hsperfdata_* file: the JVM writes that outside java.io.tmpdir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    time.tzset()


def start_session(cores: int):
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from hedera_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and every process under it."""
    gateway = spark.sparkContext._gateway
    procs = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 30
    while (alive := [p for p in procs if os.path.exists(f"/proc/{p}")]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def run(workload_name: str, seed: int, seconds: float, trace: bool, sf: float = SF, wl=None) -> tuple[dict, dict]:
    """One benchmark run in this process. Returns (run info, result)."""
    t_proc = process_start()
    wl = wl or workloads.WORKLOADS[workload_name]
    cores = len(os.sched_getaffinity(0))

    t = boot_clock()
    data_dir = os.path.join(WORK, workload_name)
    shutil.rmtree(data_dir, ignore_errors=True)
    wl.stage(data_dir, seed, sf)
    wl.expect()
    staging_s = boot_clock() - t
    # restart this process's VmHWM, so the driver's share of peak_rss_mb
    # covers the session and the passes, not staging and the oracles
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")

    t = boot_clock()
    spark = start_session(cores)
    start_s = boot_clock() - t
    passes = []
    try:
        untraced = spans.NullTracer()
        tracer = spans.Tracer(spark.sparkContext) if trace else untraced
        t = boot_clock()
        for _ in range(WARMUP_PASSES):
            passes.append(wl.run_pass(spark, untraced, len(passes)))
        warmup_s = boot_clock() - t
        setup_s = boot_clock() - t_proc - staging_s

        # Plan the timed passes up front from the last warm-up pass: a loop
        # that stops on the clock runs more passes in a faster JVM, and
        # those sit further down the JIT warm-up curve.
        n_timed = max(2, math.ceil(seconds / passes[-1].seconds))
        if trace:
            # untraced/traced pairs in ABBA order, so neither kind always
            # runs first, and enough traced passes to show a spread
            n_pairs = max(TRACE_PAIRS, math.ceil(n_timed / 2))
            plan = [k for i in range(n_pairs) for k in ((False, True) if i % 2 == 0 else (True, False))]
        else:
            plan = [False] * n_timed
        timed: list[tuple[bool, workloads.Pass]] = []
        for traced in plan:
            if traced:
                with spans.traced_loads(tracer):
                    p = wl.run_pass(spark, tracer, len(passes))
            else:
                p = wl.run_pass(spark, untraced, len(passes))
            timed.append((traced, p))
            passes.append(p)
        # the driver and the JVM; Python workers come and go with tasks
        rss = {"python": peak_rss_mb(os.getpid()), "jvm": peak_rss_mb(spark.sparkContext._gateway.proc.pid)}
    finally:
        stop_session(spark)

    attempted = sum(p.attempted for p in passes)
    failures = [f for p in passes for f in p.failures]
    for f in failures:
        print(f"# FAILED: {f}", file=sys.stderr)
    plain = [p for traced, p in timed if not traced]
    info = {
        "workload": workload_name,
        "seed": seed,
        "sf": sf,
        "cores": cores,
        "load_1m": os.getloadavg()[0],
        "staging_s": staging_s,
        "start_s": start_s,
        "warmup_s": warmup_s,
        "warmup_passes_s": [p.seconds for p in passes[:WARMUP_PASSES]],
        "passes_s": [p.seconds for p in plain],
        "peak_rss_mb": rss,
    }
    if not trace:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p.seconds for p in plain),
            "peak_rss_mb": sum(rss.values()),
        }
        units = END_TO_END
        print(f"# pass_s: {tail_summary([p.seconds for p in plain])}", file=sys.stderr)
        ops_ms = [1000 * x for p in plain for x in p.ops_s]
        print(f"# {wl.op_name}_ms: {tail_summary(ops_ms)}", file=sys.stderr)
    else:
        traced_passes = [p for traced, p in timed if traced]
        values = {k: 0.0 for k in per_layer_units()}
        keys = {k for p in traced_passes for k in p.layer}
        for k in sorted(keys):
            xs = [p.layer.get(k, 0.0) for p in traced_passes]
            values[k] = statistics.median(xs)
            if min(xs) != max(xs):
                print(f"# {k}: median {values[k]:.6g}, spread {min(xs):.6g}..{max(xs):.6g}", file=sys.stderr)
        values.update(wl.pooled_layers(traced_passes))
        values["session.start_s"] = start_s
        values["session.warmup_s"] = warmup_s
        values["fail_ratio"] = len(failures) / attempted
        # traced minus untraced pass of each pair, wherever it ran in the pair
        pairs = [timed[i : i + 2] for i in range(0, len(timed), 2)]
        values["trace.overhead_s"] = statistics.median(
            sum(p.seconds if traced else -p.seconds for traced, p in pair) for pair in pairs
        )
        units = per_layer_units()
        tracer.dump(os.path.join(WORK, f"spans-{workload_name}-{seed}.json"))
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    return info, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="scale factor of the generated inputs")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hedera_spark", "session.py")):
        print(f"perfbench: no hedera_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    confine()
    info, result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.sf)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
