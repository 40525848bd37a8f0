"""Per-layer metrics of a traced run.

``install`` wraps the engine's layer entry points in spans (traced runs
only); ``compute`` turns the spans plus Spark's status store into the
per-layer metrics.  Layers are named after the modules they time:

* ``session``         — ``session.get_spark``
* ``stream``          — the Structured Streaming trigger around
  ``foreachBatch`` (from ``StreamingQueryProgress``)
* ``envelope_decode`` — ``sources.envelope_decode.decode_cdc_json``
* ``pipeline``        — ``cdc.pipeline.CdcBatchApplier.apply_batch``
* ``dedup``           — ``cdc.dedup.last_writer_wins(_agg)``
* ``merge``           — ``cdc.merge.ParquetMergeTable.merge`` minus ``compact``
* ``l0``              — ``ParquetMergeTable.compact`` and the delta dir
* ``read``            — ``ParquetMergeTable.read`` + a noop-sink write
* ``catalog``         — a catalog entry's ``fn`` / plan / noop exec
* ``spark``/``gen``/``box`` — diagnostics

Counts and bytes are per call (mean); times are per-call medians unless
the name says otherwise; ``catalog.*`` are totals over the pass.
"""

from __future__ import annotations

import os
import statistics

from spans import Span, Stage, StatusStore, Tracer, innermost_span, self_time, union_length

LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "stream.trigger_s": "s",
    "stream.overhead_s": "s",
    "stream.wal_commit_s": "s",
    "envelope_decode.build_s": "s",
    "envelope_decode.exec_s": "s",
    "envelope_decode.jobs": "count",
    "envelope_decode.task_s": "s",
    "pipeline.wall_s": "s",
    "pipeline.self_s": "s",
    "pipeline.jobs": "count",
    "dedup.build_s": "s",
    "merge.wall_s": "s",
    "merge.driver_s": "s",
    "merge.jobs": "count",
    "merge.stages": "count",
    "merge.tasks": "count",
    "merge.task_s": "s",
    "merge.shuffle_write_bytes": "bytes",
    "merge.output_bytes": "bytes",
    "merge.files_written": "count",
    "merge.rewrite_amp": "ratio",
    "l0.drains": "count",
    "l0.drain_s": "s",
    "l0.depth_max": "count",
    "l0.output_bytes": "bytes",
    "read.wall_s": "s",
    "read.jobs": "count",
    "read.files": "count",
    "read.input_bytes": "bytes",
    "read.scan_amp": "ratio",
    "read.retries": "count",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "catalog.plan_s": "s",
    "catalog.exec_s": "s",
    "catalog.exec_jobs": "count",
    "catalog.tasks": "count",
    "catalog.task_s": "s",
    "catalog.shuffle_write_bytes": "bytes",
}


def catalog_entry_metrics(entries) -> dict[str, str]:
    out = {}
    for e in entries:
        out[f"catalog.{e}.build_s"] = "s"
        out[f"catalog.{e}.exec_s"] = "s"
        out[f"catalog.{e}.jobs"] = "count"
    return out


LAYER_TAIL = {
    "spark.busy_ratio": "ratio",
    "gen.lateness_s": "s",
    "box.probe_start_s": "s",
    "box.probe_end_s": "s",
}


def _files_under(path: str) -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(path):
        out.update(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return out


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points in spans (a no-op when not traced)."""
    if not tracer.enabled:
        return
    from etl_stream_spark.cdc import dedup
    from etl_stream_spark.cdc.merge import ParquetMergeTable

    tracer.patch_everywhere("etl_stream_spark", dedup.last_writer_wins, "dedup")
    tracer.patch_everywhere("etl_stream_spark", dedup.last_writer_wins_agg, "dedup")

    def before(args):
        path = args[0].path
        return {
            "table": os.path.basename(path),
            "files": _files_under(path),
            "l0_files": len(_files_under(f"{path}/_delta")),
        }

    def after(sp, args):
        path = args[0].path
        sp.attrs["files_written"] = len(_files_under(path) - sp.attrs.pop("files"))
        sp.attrs["l0_depth"] = len(_files_under(f"{path}/_delta"))

    tracer.patch(ParquetMergeTable, "merge", "merge", before, after)
    tracer.patch(ParquetMergeTable, "compact", "l0", before, after)


class _Jobs:
    """Jobs and stages from the status store, indexed by span."""

    def __init__(self, spark) -> None:
        store = StatusStore(spark)
        self.jobs = store.jobs()
        self.stages = store.stages()
        self.by_span: dict[int, list] = {}
        for j in self.jobs:
            sid = innermost_span(j)
            if sid is not None:
                self.by_span.setdefault(sid, []).append(j)

    def of(self, span_ids) -> list:
        return [j for sid in span_ids for j in self.by_span.get(sid, [])]

    def stats(self, jobs) -> dict:
        ids = {s for j in jobs for s in j.stage_ids}
        st = [self.stages.get(s, Stage()) for s in ids]
        return {
            "jobs": len(jobs),
            "stages": sum(1 for s in st if s.num_tasks),
            "tasks": sum(s.num_tasks for s in st),
            "task_s": sum(s.run_s for s in st),
            "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
            "output_bytes": sum(s.output_bytes for s in st),
            "output_records": sum(s.output_records for s in st),
            "input_bytes": sum(s.input_bytes for s in st),
            "input_records": sum(s.input_records for s in st),
        }

    def in_window(self, start: float, end: float) -> list:
        return [j for j in self.jobs if start <= j.start <= end]


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def input_rows(spark, start: float, end: float) -> int:
    """Rows read by all jobs submitted in [start, end] (any run)."""
    j = _Jobs(spark)
    return j.stats(j.in_window(start, end))["input_records"]


def compute(tracer: Tracer, spark, outcome, cores: int, entries) -> dict[str, float]:
    m: dict[str, float] = {k: 0.0 for k in LAYER_METRICS}
    m.update({k: 0.0 for k in catalog_entry_metrics(entries)})
    m.update({k: 0.0 for k in LAYER_TAIL})
    jobs = _Jobs(spark)

    def sub_jobs(sp: Span, exclude=()):
        return jobs.of(tracer.subtree(sp, exclude))

    def driver_s(sp: Span, js, wall: float) -> float:
        busy = union_length(
            [(max(j.start, sp.start), min(j.end, sp.end)) for j in js if j.end > sp.start]
        )
        return wall - busy

    # stream: per-trigger durations Spark reports itself
    prog = outcome.extra.get("progress") or []
    if prog:
        d = [p["durationMs"] for p in prog]
        m["stream.trigger_s"] = _med(x["triggerExecution"] for x in d) / 1000
        m["stream.overhead_s"] = _med(
            x["triggerExecution"] - x.get("addBatch", 0) for x in d
        ) / 1000
        m["stream.wal_commit_s"] = _med(
            x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d
        ) / 1000

    dec = tracer.named("envelope_decode")
    dec_exec = tracer.named("envelope_decode.exec")
    m["envelope_decode.build_s"] = _med(s.wall for s in dec)
    m["envelope_decode.exec_s"] = _med(s.wall for s in dec_exec)
    m["envelope_decode.jobs"] = _mean(len(sub_jobs(s)) for s in dec_exec)
    m["envelope_decode.task_s"] = _mean(jobs.stats(sub_jobs(s))["task_s"] for s in dec_exec)

    pipe = tracer.named("pipeline")
    m["pipeline.wall_s"] = _med(s.wall for s in pipe)
    m["pipeline.self_s"] = _med(self_time(s, tracer.children(s)) for s in pipe)
    m["pipeline.jobs"] = _mean(len(sub_jobs(s)) for s in pipe)

    m["dedup.build_s"] = _med(s.wall for s in tracer.named("dedup"))

    merges = tracer.named("merge")
    winners = outcome.extra.get("winners", {})
    if merges:
        walls, drivers, stats, written, won = [], [], [], [], 0
        for s in merges:
            drains = [c for c in tracer.children(s) if c.name == "l0"]
            wall = s.wall - sum(c.wall for c in drains)
            js = sub_jobs(s, exclude=("l0",))
            walls.append(wall)
            drivers.append(driver_s(s, js, wall))
            stats.append(jobs.stats(js))
            written.append(
                s.attrs.get("files_written", 0)
                - sum(c.attrs.get("files_written", 0) for c in drains)
            )
            parent = tracer.spans.get(s.parent)
            if parent is not None and "epoch" in parent.attrs:
                won += winners.get((parent.attrs["epoch"], s.attrs.get("table")), 0)
        m["merge.wall_s"] = _med(walls)
        m["merge.driver_s"] = _med(drivers)
        for k in ("jobs", "stages", "tasks", "task_s", "shuffle_write_bytes", "output_bytes"):
            m[f"merge.{k}"] = _mean(x[k] for x in stats)
        m["merge.files_written"] = _mean(written)
        if won:
            m["merge.rewrite_amp"] = sum(x["output_records"] for x in stats) / won
        m["l0.depth_max"] = float(max(s.attrs.get("l0_depth", 0) for s in merges))

    drains = [s for s in tracer.named("l0") if s.attrs.get("l0_files", 0) > 0]
    m["l0.drains"] = float(len(drains))
    m["l0.drain_s"] = _med(s.wall for s in drains)
    m["l0.output_bytes"] = _mean(jobs.stats(sub_jobs(s))["output_bytes"] for s in drains)

    reads = tracer.named("read")
    if reads:
        rstats = [jobs.stats(sub_jobs(s)) for s in reads]
        m["read.wall_s"] = _med(s.wall for s in reads)
        m["read.jobs"] = _mean(x["jobs"] for x in rstats)
        m["read.files"] = _mean(s.attrs.get("files", 0) for s in reads)
        m["read.input_bytes"] = _mean(x["input_bytes"] for x in rstats)
    m["read.retries"] = float(outcome.read_retries)
    final = tracer.named("read.final")
    returned = sum(s.attrs.get("rows", 0) for s in final)
    if returned:
        scanned = sum(jobs.stats(sub_jobs(s))["input_records"] for s in final)
        m["read.scan_amp"] = scanned / returned

    cat = tracer.named("catalog")
    for s in cat:
        entry = s.attrs["entry"]
        phases = {c.name: c for c in tracer.children(s)}
        b, e = phases.get("catalog.build"), phases.get("catalog.exec")
        p = phases.get("catalog.plan")
        bj = sub_jobs(b) if b else []
        ej = sub_jobs(e) if e else []
        m["catalog.build_s"] += b.wall if b else 0.0
        m["catalog.plan_s"] += p.wall if p else 0.0
        m["catalog.exec_s"] += e.wall if e else 0.0
        m["catalog.build_jobs"] += len(bj)
        m["catalog.exec_jobs"] += len(ej)
        st = jobs.stats(bj + ej)
        m["catalog.tasks"] += st["tasks"]
        m["catalog.task_s"] += st["task_s"]
        m["catalog.shuffle_write_bytes"] += st["shuffle_write_bytes"]
        m[f"catalog.{entry}.build_s"] = b.wall if b else 0.0
        m[f"catalog.{entry}.exec_s"] = e.wall if e else 0.0
        m[f"catalog.{entry}.jobs"] = float(len(bj) + len(ej))

    w0, w1 = outcome.window
    if w1 > w0:
        task_s = jobs.stats(jobs.in_window(w0, w1))["task_s"]
        m["spark.busy_ratio"] = task_s / ((w1 - w0) * cores)
    lateness = outcome.extra.get("lateness") or []
    m["gen.lateness_s"] = max(lateness) if lateness else 0.0
    return m


def shares(tracer: Tracer, outcome) -> dict[str, float]:
    """Where a traced run's time went, as shares of a total (printed for
    the reader, not reported as metrics).  CDC: of the summed trigger
    time of the measured micro-batches — the stream's own overhead, the
    decode (build plus its traced-only evaluation), ``apply_batch``, the
    merges outside drains and the drains (merges of one batch run
    concurrently, so their share is the union of their intervals).
    Catalog: of the pass, the build, plan and exec phases."""
    out: dict[str, float] = {}
    prog = outcome.extra.get("progress") or []
    total = sum(p["durationMs"]["triggerExecution"] for p in prog) / 1000
    if total > 0:
        out["stream"] = sum(
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
            for p in prog
        ) / 1000 / total
        dec = tracer.named("envelope_decode") + tracer.named("envelope_decode.exec")
        out["envelope_decode"] = sum(s.wall for s in dec) / total
        out["pipeline"] = sum(s.wall for s in tracer.named("pipeline")) / total
        merges = union_length([(s.start, s.end) for s in tracer.named("merge")])
        drains = union_length([(s.start, s.end) for s in tracer.named("l0")])
        out["merge"] = (merges - drains) / total
        out["l0"] = drains / total
    cat = tracer.named("catalog")
    total = sum(s.wall for s in cat)
    if total > 0:
        for phase in ("build", "plan", "exec"):
            out[f"catalog.{phase}"] = (
                sum(s.wall for s in tracer.named(f"catalog.{phase}")) / total
            )
    return out
