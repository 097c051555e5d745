"""The benchmark's workloads: what one pass runs and how its outputs are
checked.

Each workload is a closed loop from one driver thread: one query (or one
streaming sink) at a time, the next only after the previous returned.
`run_pass` times the pass, then checks every output outside the timing.
With a real `spans.Tracer` it also returns the pass's per-layer metrics.
"""

from __future__ import annotations

import collections
import dataclasses
import os
import shutil
import time

import numpy as np
import pandas as pd

import gen


@dataclasses.dataclass
class Pass:
    seconds: float
    ops_s: list[float]  # latency of each operation: a query, or a micro-batch
    attempted: int
    failures: list[str]
    layer: dict[str, float]
    # (sink, durationMs) of each micro-batch, for metrics pooled over passes
    batches: list[tuple[str, dict]] = dataclasses.field(default_factory=list)


def _module(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


class BatchWorkload:
    """Registry queries, each built, collected and checked against its
    DuckDB oracle."""

    op_name = "query"

    def __init__(self, name: str, queries: list[str]):
        self.name = name
        self.queries = queries

    def modules(self) -> list[str]:
        from hedera_spark.registry import QUERIES

        return sorted({_module(QUERIES[q]) for q in self.queries})

    def stage(self, data_dir: str, seed: int, sf: float) -> None:
        self.data_dir, self.seed = data_dir, seed
        gen.write_tables(data_dir, gen.make_tables(seed, sf))

    def expect(self) -> None:
        """Run the oracles once per run, before anything is timed."""
        import duckdb

        from hedera_spark.registry import ORACLE
        from hedera_spark.sources.tables import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {q: con.execute(ORACLE[q]).df() for q in self.queries}
        finally:
            con.close()

    def run_pass(self, spark, tracer, pass_no: int) -> Pass:
        from hedera_spark.registry import QUERIES
        from hedera_spark.session import reset_session_state

        order = list(np.random.default_rng([self.seed, pass_no]).permutation(self.queries))
        first_span = len(tracer.spans)
        outputs, ops, failures = {}, [], []
        t0 = time.perf_counter()
        with tracer.span("pass", workload=self.name, pass_no=pass_no):
            for q in order:
                tracer.trace_id = f"{self.name}/{pass_no}/{q}"
                try:
                    with tracer.span("query", query=q, module=_module(QUERIES[q])) as rec:
                        with tracer.span("session.reset"):
                            reset_session_state(spark)
                        t = time.perf_counter()
                        with tracer.span("operators.build"):
                            df = QUERIES[q](spark, self.data_dir)
                        with tracer.span("operators.exec"):
                            rows = df.collect()
                        rec["op_s"] = time.perf_counter() - t
                        rec["rows"] = len(rows)
                    ops.append(rec["op_s"])
                    outputs[q] = (df.columns, rows)
                except Exception as e:  # a failed query is counted; the pass goes on
                    failures.append(f"{q}: {type(e).__name__}: {str(e)[:300]}")
                tracer.flush()
        seconds = time.perf_counter() - t0
        failures += [f for q, out in outputs.items() if (f := self.check(q, *out))]
        layer = self._layers(tracer, tracer.spans[first_span:]) if tracer.enabled else {}
        return Pass(seconds, ops, len(order), failures, layer)

    def pooled_layers(self, passes: list[Pass]) -> dict[str, float]:
        return {}

    def check(self, q: str, columns: list[str], rows: list) -> str | None:
        from tests.oracle_compare import assert_frames_match

        pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
        try:
            assert_frames_match(pdf, self.expected[q], q)
        except AssertionError as e:
            return str(e)[:300]
        return None

    def _layers(self, tracer, spans: list[dict]) -> dict[str, float]:
        m: dict[str, float] = collections.Counter()
        for mod in self.modules():
            m[f"operators.{mod}_s"] = 0.0
        for s in spans:
            d = s["end"] - s["start"]
            m["operators.failed_tasks"] += s.get("failed_tasks", 0)
            name = s["name"]
            if name == "sources.load_table":
                m["sources.load_calls"] += 1
                m["sources.load_s"] += d
                m["sources.load_jobs"] += s["jobs"]
            elif name == "operators.build":
                m["operators.build_s"] += tracer.self_time(s)
                m["operators.build_jobs"] += s["jobs"]
                m["operators.build_tasks"] += s["tasks"]
            elif name == "operators.exec":
                m["operators.exec_s"] += d
                m["operators.exec_jobs"] += s["jobs"]
                m["operators.exec_stages"] += s["stages"]
                m["operators.exec_tasks"] += s["tasks"]
            elif name == "session.reset":
                m["session.reset_s"] += d
            elif name == "query" and "op_s" in s:
                m[f"operators.{s['module']}_s"] += s["op_s"]
                m["operators.result_rows"] += s["rows"]
        return dict(m)


class LakeWorkload:
    """Replays day files of `events` through both streaming lake sinks
    into fresh lakes, then checks each lake against the staged events."""

    name = "lake_ingest"
    op_name = "microbatch"

    def __init__(self, days: int):
        self.days = days

    def stage(self, data_dir: str, seed: int, sf: float) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.data_dir = data_dir
        self.src = os.path.join(data_dir, "days")
        os.makedirs(self.src)
        events = gen.make_events(seed, sf, self.days)
        day = pc.cast(events["ts"], "date32")
        days = sorted(pc.unique(day).to_pylist())
        self.n_events = events.num_rows
        self.event_days = [str(d) for d in days]
        # the seed sets the arrival order: the file source takes files
        # oldest first, one per trigger
        t0 = time.time() - len(days) - 60
        for k, i in enumerate(np.random.default_rng(seed).permutation(len(days))):
            path = os.path.join(self.src, f"events-{days[i]}.parquet")
            pq.write_table(events.filter(pc.equal(day, days[i])), path)
            os.utime(path, (t0 + k, t0 + k))

    def expect(self) -> None:
        pass

    def modules(self) -> list[str]:
        return []

    def run_pass(self, spark, tracer, pass_no: int) -> Pass:
        from hedera_spark.streaming.sink import stream_write_compacted, stream_write_partitioned

        base = os.path.join(self.data_dir, "lakes")
        shutil.rmtree(base, ignore_errors=True)
        sinks = {"partitioned": stream_write_partitioned, "compacted": stream_write_compacted}
        progress, ops, failures = {}, [], []
        t0 = time.perf_counter()
        with tracer.span("pass", workload=self.name, pass_no=pass_no):
            for sink, fn in sinks.items():
                tracer.trace_id = f"{self.name}/{pass_no}/{sink}"
                out, ckpt = os.path.join(base, sink), os.path.join(base, f"{sink}.ckpt")
                try:
                    with tracer.span(f"streaming.{sink}", sink=sink):
                        q = fn(spark, self.src, out, ckpt)
                        q.awaitTermination()
                    progress[sink] = q.recentProgress
                    ops += [p.durationMs["triggerExecution"] / 1000 for p in progress[sink]]
                except Exception as e:  # a failed sink is counted; the pass goes on
                    failures.append(f"{sink}: {type(e).__name__}: {str(e)[:300]}")
        seconds = time.perf_counter() - t0
        files = nbytes = 0
        for sink in progress:
            err, f, b = self.check(os.path.join(base, sink))
            files, nbytes = files + f, nbytes + b
            if err:
                failures.append(f"{sink}: {err}")
        layer = self._layers(progress, seconds, files, nbytes) if tracer.enabled else {}
        batches = [(sink, p.durationMs) for sink, ps in progress.items() for p in ps]
        return Pass(seconds, ops, len(sinks), failures, layer, batches)

    def check(self, lake: str) -> tuple[str | None, int, int]:
        """Row count = distinct event_id count = staged events, and one
        date partition per event day."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        files = [os.path.join(r, f) for r, _, fs in os.walk(lake) for f in fs if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(f) for f in files)
        table = ds.dataset(lake, format="parquet", partitioning="hive").to_table(
            columns=["event_id", "event_date"]
        )
        rows = table.num_rows
        distinct = len(pc.unique(table["event_id"]))
        days = sorted(str(d) for d in pc.unique(table["event_date"]).to_pylist())
        if rows != self.n_events or distinct != self.n_events or days != self.event_days:
            return (
                f"{rows} rows, {distinct} distinct event_id, {len(days)} days; "
                f"want {self.n_events} events over {len(self.event_days)} days",
                len(files),
                nbytes,
            )
        return None, len(files), nbytes

    def _layers(self, progress: dict, seconds: float, files: int, nbytes: int) -> dict[str, float]:
        batches = [p for ps in progress.values() for p in ps]
        if not batches:
            return {}
        m: dict[str, float] = {"streaming.batches": len(batches)}
        landed = self.n_events * len(progress)
        m["streaming.rows_read_per_row_landed"] = sum(p.numInputRows for p in batches) / landed
        m["streaming.events_per_s"] = landed / seconds
        m["sinks.files_written"] = files
        m["sinks.bytes_written"] = nbytes
        return m

    def pooled_layers(self, passes: list[Pass]) -> dict[str, float]:
        """Per-micro-batch medians over the batches of all `passes`: one
        pass has only a few batches per sink, too few for a percentile
        above the median."""
        batches = [b for p in passes for b in p.batches]
        if not batches:
            return {}
        m = {}
        for key, name in (
            ("latestOffset", "latest_offset_ms"),
            ("queryPlanning", "query_planning_ms"),
            ("addBatch", "add_batch_ms"),
            ("walCommit", "wal_commit_ms"),
            ("commitOffsets", "commit_offsets_ms"),
        ):
            m[f"streaming.{name}"] = float(np.median([d.get(key, 0) for _, d in batches]))
        m["streaming.microbatch_ms_p50"] = float(np.median([d["triggerExecution"] for _, d in batches]))
        for sink in ("partitioned", "compacted"):
            ms = [d["triggerExecution"] for s, d in batches if s == sink]
            m[f"streaming.{sink}_batch_ms_p50"] = float(np.median(ms)) if ms else 0.0
        return m


# Workload mixes. Both batch mixes are subsets of bench.py's HEADLINE +
# EXTENDED lists, so its per-query history maps onto them.
WORKLOADS = {
    "revision_etl": BatchWorkload(
        "revision_etl",
        ["tpch_q5", "rev_pairs", "pv_daily", "fingerprint", "anchor_count"],
    ),
    "dedup_search": BatchWorkload(
        "dedup_search",
        ["dedup_minhash", "ann_topk", "kmeans_embeddings"],
    ),
    "lake_ingest": LakeWorkload(days=4),
}
