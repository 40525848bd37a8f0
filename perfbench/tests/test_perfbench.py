"""The benchmark's own checks: deterministic inputs, a correct LWW
reference, and metric names that match BENCHMARK.json.

Run with ``python3 -m pytest perfbench/tests -q``.  No Spark session is
started.
"""

from __future__ import annotations

import json
import os
import re
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import reference  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer, self_time, union_length  # noqa: E402

#: every metric name the benchmark is specified to report
REQUIRED_END_TO_END = {
    "setup_s", "rows_per_s", "freshness_p50_s", "freshness_tail_s",
    "commit_p50_s", "read_p50_s", "storage_amp", "query_total_s",
    "query_geomean_s", "peak_rss_mb",
}
REQUIRED_PER_LAYER = {
    "session.start_s",
    "stream.trigger_s", "stream.overhead_s", "stream.wal_commit_s",
    "envelope_decode.build_s", "envelope_decode.exec_s",
    "envelope_decode.jobs", "envelope_decode.task_s",
    "pipeline.wall_s", "pipeline.self_s", "pipeline.jobs",
    "dedup.build_s",
    "merge.wall_s", "merge.driver_s", "merge.jobs", "merge.stages",
    "merge.tasks", "merge.task_s", "merge.shuffle_write_bytes",
    "merge.output_bytes", "merge.files_written", "merge.rewrite_amp",
    "l0.drains", "l0.drain_s", "l0.depth_max", "l0.output_bytes",
    "read.wall_s", "read.jobs", "read.files", "read.input_bytes", "read.scan_amp",
    "catalog.build_s", "catalog.build_jobs", "catalog.plan_s", "catalog.exec_s",
    "catalog.exec_jobs", "catalog.tasks", "catalog.task_s",
    "catalog.shuffle_write_bytes",
    "spark.busy_ratio", "gen.lateness_s", "box.probe_start_s", "box.probe_end_s",
} | {
    f"catalog.{e}.{k}" for e in workloads.CATALOG_ENTRIES for k in ("build_s", "exec_s", "jobs")
}
#: per-layer metrics reported beyond the specified list
EXTRA_PER_LAYER = {"read.retries"}
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_gives_byte_identical_envelopes(tmp_path):
    paths = []
    for run_no in range(2):
        g = gen.CdcGenerator(workloads.TRICKLE, seed=7)
        p = tmp_path / f"run{run_no}.json"
        g.write_batch(3, str(p))
        g.close()
        paths.append(p)
    assert paths[0].read_bytes() == paths[1].read_bytes()
    other = gen.CdcGenerator(workloads.TRICKLE, seed=8)
    assert "\n".join(other.batch_lines(3)) + "\n" != paths[0].read_text()


def test_same_seed_gives_identical_catalog_tables(tmp_path):
    a = gen.write_catalog_tables(str(tmp_path / "a"), seed=3, sf=0.001)
    b = gen.write_catalog_tables(str(tmp_path / "b"), seed=3, sf=0.001)
    assert a == b
    for name in a:
        fa = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        fb = (tmp_path / "b" / f"{name}.parquet").read_bytes()
        assert fa == fb, name


def test_generator_honours_mix_and_out_of_order_share():
    spec = workloads.TRICKLE
    lines = gen.CdcGenerator(spec, seed=1).batch_lines(0)
    events = [json.loads(x) for x in lines]
    ops = [e["op"] for e in events]
    assert len(events) == spec.batch_events
    assert ops.count("c") / len(ops) == pytest.approx(spec.mix[1], abs=0.01)
    assert ops.count("d") / len(ops) == pytest.approx(spec.mix[2], abs=0.01)
    lsns = [e["source"]["lsn"] for e in events]
    displaced = sum(1 for i, lsn in enumerate(lsns) if lsn != sorted(lsns)[i])
    assert 0 < displaced <= spec.out_of_order * len(lsns)
    assert {e["source"]["table"] for e in events} == {t.name for t in spec.tables}


def test_lww_reference_on_hand_written_events(tmp_path):
    """Key 1: insert, then two updates arriving out of order — the
    higher LSN wins although it comes first in the file.  Key 2:
    inserted, then deleted — absent.  Key 3: snapshot row, untouched.
    Key 4: snapshot row deleted by the stream."""
    table = gen.TableSpec("t", 1, initial_keys=0)
    spec = gen.CdcSpec(tables=(table,), batch_events=5)
    col = table.columns[0][0]  # a BIGINT column

    def env(op, lsn, key, value=None):
        row = {"id": key} if op == "d" else {"id": key, col: value}
        return json.dumps({
            "op": op, "ts_ms": 0,
            "before": row if op == "d" else None,
            "after": None if op == "d" else row,
            "source": {"lsn": lsn, "table": "t", "schema": "public"},
        })

    events = tmp_path / "events.json"
    events.write_text("\n".join([
        env("c", 1, 1, 10),
        env("u", 3, 1, 30),   # the newest image of key 1 ...
        env("u", 2, 1, 20),   # ... arrives before this older one
        env("c", 4, 2, 40),
        env("d", 5, 2),
        env("d", 6, 4),
    ]) + "\n")
    snapshot = tmp_path / "snap.parquet"
    duckdb.sql(
        f"COPY (SELECT * FROM (VALUES (3, 300), (4, 400)) v(id, {col})) "
        f"TO '{snapshot}' (FORMAT PARQUET)"
    )
    sql = reference.lww_reference_sql(spec, table, [str(events)], str(snapshot))
    assert sorted(duckdb.sql(sql).fetchall()) == [(1, 30), (3, 300)]


def test_metric_names_are_well_formed_and_unique():
    bench = _bench_json()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n) and len(n) <= 64, n


def test_every_required_metric_is_declared_and_emitted():
    bench = _bench_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert set(e2e) == set(run.END_TO_END) == REQUIRED_END_TO_END
    assert e2e == run.END_TO_END
    declared = dict(layers.LAYER_METRICS)
    declared.update(layers.catalog_entry_metrics(workloads.CATALOG_ENTRIES))
    declared.update(layers.LAYER_TAIL)
    assert layer == declared
    assert set(layer) == REQUIRED_PER_LAYER | EXTRA_PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_end_to_end_emits_every_metric():
    out = workloads.Outcome(
        setup_s=[1.0, 2.0, 3.0], freshness_s=[0.5, 1.5], commit_s=[0.4],
        read_s=[0.2], query_s=[1.0, 4.0], rows=100, busy_s=2.0,
        stored_bytes=30, reference_bytes=10,
    )
    m = run.end_to_end(out, session_s=5.0)
    assert set(m) == set(run.END_TO_END)
    assert m["setup_s"] == 7.0
    assert m["rows_per_s"] == 50.0
    assert m["query_geomean_s"] == pytest.approx(2.0)
    assert m["storage_amp"] == 3.0


def test_layer_metrics_emitted_from_an_empty_trace(monkeypatch):
    class NoJobs:
        def __init__(self, spark):
            self.jobs, self.stages, self.by_span = [], {}, {}

        of = layers._Jobs.of
        stats = layers._Jobs.stats
        in_window = layers._Jobs.in_window

    monkeypatch.setattr(layers, "_Jobs", NoJobs)
    m = layers.compute(
        Tracer(None, enabled=False), None, workloads.Outcome(), 4, workloads.CATALOG_ENTRIES
    )
    declared = dict(layers.LAYER_METRICS)
    declared.update(layers.catalog_entry_metrics(workloads.CATALOG_ENTRIES))
    declared.update(layers.LAYER_TAIL)
    assert set(m) == set(declared)


def test_tail_is_the_highest_percentile_with_ten_beyond():
    assert run.tail([float(i) for i in range(40)]) == (29.0, 75.0)
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_self_time_subtracts_the_union_of_children():
    parent = Span(1, "p", None, 0.0, 10.0)
    kids = [Span(2, "c", 1, 1.0, 4.0), Span(3, "c", 1, 3.0, 5.0), Span(4, "c", 1, 9.0, 12.0)]
    assert union_length([(1.0, 4.0), (3.0, 5.0)]) == 4.0
    assert self_time(parent, kids) == 10.0 - 4.0 - 1.0


def test_ambient_parent_applies_to_worker_threads_only():
    """A call that fans out to a worker pool parents the workers' spans;
    a span the benchmark's own thread opens meanwhile stays a root."""
    import threading

    class FakeContext:
        def addJobTag(self, tag):
            pass

        def removeJobTag(self, tag):
            pass

    class FakeSpark:
        sparkContext = FakeContext()

    tracer = Tracer(FakeSpark(), enabled=True)
    tracer.ambient = 99
    with tracer.span("read") as main_span:
        pass
    worker = {}

    def work():
        with tracer.span("merge") as sp:
            worker["span"] = sp

    t = threading.Thread(target=work)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    assert main_span.parent is None
    assert worker["span"].parent == 99
