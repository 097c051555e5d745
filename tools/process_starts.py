"""Count the OS processes a Spark JVM started, grouped by call site.

Without the native Hadoop library, Hadoop's local file system shells
out (`chmod`, `readlink`, ...) from inside Spark's file and checkpoint
code; each fork costs milliseconds. Record the session JVM with Java
Flight Recorder, then group its `jdk.ProcessStart` events by the
command's first word and the first (non-lambda) Spark frame under it:

    JDK_JAVA_OPTIONS="-XX:StartFlightRecording=filename=/tmp/jfr/,settings=default" \\
        python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 6 --trace 0
    python3 tools/process_starts.py /tmp/jfr --passes 5

`JDK_JAVA_OPTIONS` reaches the JVM that spark-submit starts (perfbench
sets `JAVA_TOOL_OPTIONS` itself). Given a directory, the largest
recording in it is read: the launcher JVM leaves a small one of its own.
`--passes` divides the counts (for perfbench, the number of entries in
`warmup_passes_s` plus `passes_s` on its info line), so the per-pass
column also spreads the few once-per-run starts (session set-up and
shutdown) over the passes.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import subprocess


def load_events(recording: str) -> list[dict]:
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "64", "--events", "jdk.ProcessStart", recording],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    return [e["values"] for e in json.loads(out)["recording"]["events"]]


def call_site(event: dict) -> str:
    for f in event["stackTrace"]["frames"]:
        name = f["method"]["type"]["name"].replace("/", ".")
        if name.startswith("org.apache.spark") and "$$Lambda" not in name:
            return f"{name}.{f['method']['name']}"
    return "(no Spark frame)"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording", help="a .jfr file, or a directory holding the recordings")
    ap.add_argument("--passes", type=int, default=1, help="divide the counts by this many passes")
    args = ap.parse_args()
    rec = args.recording
    if os.path.isdir(rec):
        jfrs = [os.path.join(rec, f) for f in os.listdir(rec) if f.endswith(".jfr")]
        rec = max(jfrs, key=os.path.getsize)
    groups = collections.Counter((e["command"].split()[0], call_site(e)) for e in load_events(rec))
    total = sum(groups.values())
    print(f"{rec}: {total} process starts, {total / args.passes:.1f} per pass over {args.passes}")
    for (command, site), n in groups.most_common():
        print(f"{n:7d} {n / args.passes:8.1f}  {command:10s} {site}")


if __name__ == "__main__":
    main()
