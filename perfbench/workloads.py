"""The three workloads.

Each workload function takes a ``Ctx`` and returns a ``Outcome``: the
operation counts, the raw samples the end-to-end metrics are computed
from, and (traced runs) the spans.  Timed regions never include input
generation or correctness checks.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

from gen import KEY_COL, CdcGenerator, CdcSpec, TableSpec, write_catalog_tables
from reference import (
    catalog_connection,
    catalog_mismatch,
    compare_state,
    lww_reference_sql,
)
import layers
from spans import Tracer

#: open-loop release interval of ``cdc_trickle`` (1,000 events each)
TRICKLE_INTERVAL_S = 2.0
#: ``cdc_trickle`` reads one target's full snapshot (the targets in
#: turn) this long after each measured batch's release
TRICKLE_READ_PHASE_S = 1.0
#: ``cdc_trickle`` batches released before the measured ones: the first
#: triggers of a new stream and the first merge into a fresh target
#: pay one-off costs that would otherwise queue the measured batches
LEAD_IN_BATCHES = 3
#: ``cdc_bulk`` plans one batch per this many seconds of ``--seconds``
BULK_BATCH_S = 5.0
#: a read whose listed files an L0 drain or bucket rewrite deleted
#: before it scanned them (the engine's readers have no snapshot
#: isolation) is retried up to this many times; retries are counted
READ_RETRIES = 3
#: workload set-up is repeated this many times; setup_s takes the median
SETUP_REPEATS = 3

TRICKLE = CdcSpec(
    tables=(
        TableSpec("narrow", 2, 10_000),
        TableSpec("medium", 8, 10_000),
        TableSpec("wide", 24, 10_000),
    ),
    batch_events=1_000,
)
BULK = CdcSpec(tables=(TableSpec("orders", 20, 50_000),), batch_events=50_000)

#: ``catalog_mix`` entries: every operators/ and plans/ family, plus the
#: CDC dedup reused in batch (cdc_final_state)
CATALOG_ENTRIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q21_waiting_suppliers",
    "cdc_final_state",
    "customer_rfm_segments",
    "corpus_curation_funnel",
    "text_heavy_hitters",
    "semantic_dedup",
    "dedup_clusters",
    "dedup_lsh_verified",
    "hybrid_search_rrf",
    "user_value_interpolated",
    "orders_pruned_read",
    "orders_compacted_read",
)
#: scale of the generated catalog tables (lineitem ≈ 6M × CATALOG_SF rows)
CATALOG_SF = 0.01


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: int


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    setup_s: list[float] = field(default_factory=list)
    #: per unit of work (batch or catalog entry): due → done latency
    freshness_s: list[float] = field(default_factory=list)
    #: per unit of work: its own duration (batch apply / entry build+exec)
    commit_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    #: per read (CDC target snapshot) or per query (catalog entry)
    query_s: list[float] = field(default_factory=list)
    rows: int = 0
    read_retries: int = 0
    busy_s: float = 0.0
    stored_bytes: int = 0
    reference_bytes: int = 0
    window: tuple[float, float] = (0.0, 0.0)
    extra: dict = field(default_factory=dict)


def noop(df) -> None:
    """Full evaluation of every output column, nothing collected."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


_T0 = time.time()


def log(msg: str) -> None:
    """A human-readable line on standard error, stamped with the
    seconds since the benchmark started."""
    import sys

    print(f"# [{time.time() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# -- CDC -----------------------------------------------------------------------


class CdcRun:
    """One CDC stream run: targets, the envelope source directory, the
    foreachBatch body, and the post-run correctness check."""

    def __init__(self, ctx: Ctx, spec: CdcSpec, merge_on_read: bool, num_buckets: int):
        from pyspark.sql import types as T

        self.ctx = ctx
        self.spec = spec
        self.merge_on_read = merge_on_read
        self.num_buckets = num_buckets
        self.gen = CdcGenerator(spec, ctx.seed)
        self.payload = T._parse_datatype_string(spec.spark_payload_ddl())
        self.staging = os.path.join(ctx.work, "staging")
        self.src = os.path.join(ctx.work, "src")
        os.makedirs(self.staging)
        os.makedirs(self.src)
        self.snapshots: dict[str, str] = {}
        self.applier = None
        self.commit_end: dict[int, float] = {}
        self.batch_wall: dict[int, float] = {}
        self.batch_start: dict[int, float] = {}
        self.batch_events: dict[int, int] = {}
        self.batch_error: list[str] = []
        self._mtime = 0.0

    # set-up ----------------------------------------------------------------

    def write_snapshots(self) -> None:
        for i, t in enumerate(self.spec.tables):
            path = os.path.join(self.ctx.work, f"snapshot_{t.name}.parquet")
            pq.write_table(self.gen.snapshot(i), path)
            self.snapshots[t.name] = path

    def stage_batches(self, n: int) -> None:
        """Write the run's ``n`` batches, plus batch ``n`` for the
        warm-up (never released to the stream).  The generator's last
        use: it is closed here."""
        for b in range(n + 1):
            self.batch_events[b] = self.gen.write_batch(
                b, os.path.join(self.staging, f"batch_{b:05d}.json")
            )
        self.gen.close()
        self.warm_up_file = os.path.join(self.staging, f"batch_{n:05d}.json")

    def release(self, b: int) -> None:
        """Move batch ``b`` into the source directory.  The file source
        admits files oldest-first by modification time (milliseconds),
        so each release gets a strictly later mtime than the previous
        and files are admitted in release order."""
        dst = os.path.join(self.src, f"batch_{b:05d}.json")
        os.replace(os.path.join(self.staging, f"batch_{b:05d}.json"), dst)
        self._mtime = max(time.time(), self._mtime + 0.01)
        os.utime(dst, (self._mtime, self._mtime))

    def setup_targets(self, base: str):
        """The program's set-up: an applier whose targets hold the
        pre-stream snapshot, loaded with ``sources.initial_copy``."""
        from etl_stream_spark.cdc.pipeline import CdcBatchApplier, CdcTableConfig
        from etl_stream_spark.sources.initial_copy import initial_copy

        spark = self.ctx.spark
        applier = CdcBatchApplier(
            spark,
            base,
            {
                t.name: CdcTableConfig(
                    keys=[KEY_COL],
                    num_buckets=self.num_buckets,
                    merge_on_read=self.merge_on_read,
                )
                for t in self.spec.tables
            },
            txn_app_id=base,
        )
        types = dict(
            (f.name, f.dataType.simpleString()) for f in self.payload.fields
        )
        for t in self.spec.tables:
            cols = [KEY_COL] + [c for c, _ in t.columns]
            snap = spark.read.parquet(self.snapshots[t.name]).selectExpr(
                *[f"CAST(`{c}` AS {types[c]}) AS `{c}`" for c in cols]
            )
            initial_copy(applier.target(t.name), snap)
        return applier

    def timed_setup(self, out: Outcome, warm_up_applies: int) -> None:
        """Set up SETUP_REPEATS times; the last set of targets is the
        one the stream writes.  The first, discarded set is also warmed
        up, untimed: a throwaway stream applies the warm-up batch
        ``warm_up_applies`` times, then the widest target is drained and
        read, so code generation and the JIT of the stream, decode,
        apply, drain and read paths are not charged to the measured
        batches."""
        spark = self.ctx.spark
        for k in range(SETUP_REPEATS):
            base = os.path.join(self.ctx.work, f"targets{k}")
            t0 = time.perf_counter()
            applier = self.setup_targets(base)
            out.setup_s.append(time.perf_counter() - t0)
            if k == 0:
                self._warm_up_stream(applier, warm_up_applies)
                widest = applier.target(self.spec.tables[-1].name)
                widest.compact()
                noop(widest.read())
            if k < SETUP_REPEATS - 1:
                shutil.rmtree(base)
        self.applier = applier

    def _warm_up_stream(self, applier, batches: int) -> None:
        from etl_stream_spark.sources.envelope_decode import decode_cdc_json

        src = os.path.join(self.ctx.work, "warm_up_src")
        os.makedirs(src)
        for i in range(batches):
            shutil.copy(self.warm_up_file, os.path.join(src, f"warm_up_{i}.json"))
            os.utime(os.path.join(src, f"warm_up_{i}.json"), (i, i))

        def body(raw, epoch_id):
            applier.apply_batch(decode_cdc_json(raw, self.payload), epoch_id)

        (
            self.ctx.spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(src)
            .writeStream.foreachBatch(body)
            .option("checkpointLocation", os.path.join(self.ctx.work, "warm_up_checkpoint"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # the stream --------------------------------------------------------------

    def on_batch(self, raw, epoch_id: int) -> None:
        from etl_stream_spark.sources.envelope_decode import decode_cdc_json

        tracer = self.ctx.tracer
        t0 = time.time()
        try:
            with tracer.span("envelope_decode"):
                decoded = decode_cdc_json(raw, self.payload)
            if tracer.enabled:
                # traced runs only: one extra full evaluation of the
                # decode, so its execution cost is measured on its own
                with tracer.span("envelope_decode.exec"):
                    noop(decoded)
            with tracer.span("pipeline", epoch=epoch_id) as sp:
                tracer.ambient = sp.id if sp is not None else None
                self.applier.apply_batch(decoded, epoch_id)
                tracer.ambient = None
        except Exception:
            self.batch_error.append(traceback.format_exc())
            raise
        end = time.time()
        self.commit_end[epoch_id] = end
        self.batch_wall[epoch_id] = end - t0
        self.batch_start[epoch_id] = t0

    def start_stream(self, trigger_s: float, max_files: int | None):
        spark = self.ctx.spark
        reader = spark.readStream.format("text")
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", max_files)
        raw = reader.load(self.src)
        return (
            raw.writeStream.foreachBatch(self.on_batch)
            .option("checkpointLocation", os.path.join(self.ctx.work, "checkpoint"))
            .trigger(processingTime=f"{int(trigger_s * 1000)} milliseconds")
            .start()
        )

    def read_target(self, name: str, reader_tables: dict, out: Outcome) -> None:
        """One full-snapshot read of a target, by a reader that does not
        share the writer's table object (as another process would)."""
        from etl_stream_spark.cdc.merge import ParquetMergeTable

        tbl = reader_tables.get(name)
        if tbl is None:
            cfg = self.applier.config(name)
            tbl = reader_tables[name] = ParquetMergeTable(
                self.ctx.spark,
                f"{self.applier.base_path}/{name}",
                cfg.keys,
                cfg.num_buckets,
                merge_on_read=cfg.merge_on_read,
                compact_threshold=cfg.compact_threshold,
            )
        out.attempted += 1
        t0 = time.perf_counter()
        with self.ctx.tracer.span("read", table=name) as sp:
            for attempt in range(READ_RETRIES + 1):
                try:
                    df = tbl.read()
                    noop(df)
                    break
                except Exception as exc:
                    vanished = any(
                        m in str(exc)
                        for m in ("FILE_NOT_EXIST", "FileNotFound", "PATH_NOT_FOUND")
                    )
                    if vanished and attempt < READ_RETRIES:
                        out.read_retries += 1
                        log(f"read of {name} lost a race with a rewrite; retrying")
                        continue
                    out.failed += 1
                    log(f"read of {name} failed:\n{traceback.format_exc()}")
                    return
        out.read_s.append(time.perf_counter() - t0)
        if sp is not None:
            sp.attrs["files"] = len(df.inputFiles())

    def final_reads(self) -> dict:
        """Traced runs: one more read per target once the stream has
        stopped; check() fills in the rows returned (read.scan_amp)."""
        spans = {}
        if self.ctx.tracer.enabled:
            for t in self.spec.tables:
                with self.ctx.tracer.span("read.final", table=t.name) as sp:
                    noop(self.applier.target(t.name).read())
                spans[t.name] = sp
        return spans

    # checks ------------------------------------------------------------------

    def check(self, out: Outcome, n_batches: int, final_reads: dict) -> None:
        """Final state of every target against the DuckDB reference;
        the Spark-written copy of a verified state is the 'written once
        as compacted parquet' denominator of storage_amp."""
        from concurrent.futures import ThreadPoolExecutor

        files = [
            os.path.join(self.src, f"batch_{b:05d}.json") for b in range(n_batches)
        ]

        def check_table(t: TableSpec) -> tuple[int, int, int]:
            got_dir = os.path.join(self.ctx.work, "check", t.name)
            state = self.applier.target(t.name).read()
            state.select(KEY_COL, *[c for c, _ in t.columns]).coalesce(1).write.parquet(
                got_dir
            )
            ref = lww_reference_sql(self.spec, t, files, self.snapshots[t.name])
            with duckdb.connect() as con:
                n_got, diff = compare_state(con, t, ref, got_dir)
            ref_bytes = sum(
                os.path.getsize(os.path.join(got_dir, f))
                for f in os.listdir(got_dir)
                if f.endswith(".parquet")
            )
            return n_got, diff, ref_bytes

        with ThreadPoolExecutor(len(self.spec.tables)) as pool:
            results = list(pool.map(check_table, self.spec.tables))
        for t, (n_got, diff, ref_bytes) in zip(self.spec.tables, results):
            out.attempted += 1
            if t.name in final_reads:
                final_reads[t.name].attrs["rows"] = n_got
            out.stored_bytes += dir_bytes(f"{self.applier.base_path}/{t.name}")
            out.reference_bytes += ref_bytes
            if diff:
                out.failed += 1
                log(f"{t.name}: {diff} rows differ from the LWW reference ({n_got} rows)")
            else:
                log(f"{t.name}: {n_got} rows match the LWW reference")

    def epochs(self) -> dict[int, int]:
        """Batch file index → the micro-batch (epoch) that read it, from
        the file source's own log in the checkpoint."""
        import json

        log_dir = os.path.join(self.ctx.work, "checkpoint", "sources", "0")
        out = {}
        for name in os.listdir(log_dir):
            if name.startswith("."):
                continue
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        entry = json.loads(line)
                        b = int(os.path.basename(entry["path"])[6:11])
                        out[b] = entry["batchId"]
        return out

    def all_committed(self, n: int) -> bool:
        epochs = self.epochs()
        return all(epochs.get(b) in self.commit_end for b in range(n))

    def winners(self, epochs: dict[int, int]) -> dict[tuple[int, str], int]:
        """Distinct keys per (epoch, table): the LWW winners a merge
        installs (the denominator of merge.rewrite_amp)."""
        by_epoch: dict[int, list[str]] = {}
        for b, e in epochs.items():
            by_epoch.setdefault(e, []).append(
                os.path.join(self.src, f"batch_{b:05d}.json")
            )
        con = duckdb.connect()
        out = {}
        for e, files in by_epoch.items():
            listed = ", ".join(f"'{f}'" for f in files)
            rows = con.sql(
                f"""SELECT source."table", count(DISTINCT COALESCE(after.id, before.id))
                    FROM read_json([{listed}], format='newline_delimited',
                        columns={{'before': 'STRUCT(id BIGINT)', 'after': 'STRUCT(id BIGINT)',
                                  'source': 'STRUCT("table" VARCHAR)'}})
                    GROUP BY 1"""
            ).fetchall()
            for name, n in rows:
                out[(e, name)] = n
        con.close()
        return out


def _stop_stream(run: CdcRun, q) -> list[dict]:
    """Stop the query; its per-trigger progress reports (non-empty
    triggers only).  A trigger reports its progress after its batch
    has committed, so the last report is waited for first."""
    last = max(run.commit_end, default=None)
    deadline = time.time() + 10.0
    while last is not None and time.time() < deadline:
        lp = q.lastProgress
        if lp is not None and lp["batchId"] >= last:
            break
        time.sleep(0.05)
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    q.stop()
    if q.exception() is not None:
        log(f"stream failed: {q.exception()}")
    for err in run.batch_error:
        log(err)
    return progress


def _account(run: CdcRun, out: Outcome, batches: range, due: list[float]) -> dict[int, int]:
    """Per measured batch file: freshness from its due time to the
    commit of the micro-batch that read it; per micro-batch that read a
    measured file: its apply time.  A file no committed micro-batch
    read counts as failed."""
    epochs = run.epochs()
    out.attempted += len(batches)
    measured = set()
    for b in batches:
        e = epochs.get(b)
        if e is None or e not in run.commit_end:
            out.failed += 1
            continue
        measured.add(e)
        out.freshness_s.append(run.commit_end[e] - due[b])
        out.rows += run.batch_events[b]
        log(
            f"batch {b}: epoch {e} starts {run.batch_start[e] - due[b]:+.2f}s after due, "
            f"applies in {run.batch_wall[e]:.2f}s"
        )
    for e in sorted(measured):
        out.commit_s.append(run.batch_wall[e])
        out.busy_s += run.batch_wall[e]
    return epochs


def cdc_trickle(ctx: Ctx) -> Outcome:
    """Open loop: 1,000-event batches over three tables, released every
    TRICKLE_INTERVAL_S into merge-on-read targets (LEAD_IN_BATCHES of
    them unmeasured), with one full-snapshot read per measured batch
    while the stream runs.  A trigger reads every file released so far,
    so a stalled stream catches up with larger micro-batches."""
    out = Outcome()
    run = CdcRun(ctx, TRICKLE, merge_on_read=True, num_buckets=8)
    first = LEAD_IN_BATCHES
    n = first + max(1, int(ctx.seconds // TRICKLE_INTERVAL_S))
    run.write_snapshots()
    run.stage_batches(n)
    log("inputs generated")
    run.timed_setup(out, warm_up_applies=3)
    log(f"set up: {', '.join(f'{x:.2f}s' for x in out.setup_s)}")
    layers.install(ctx.tracer)
    q = run.start_stream(TRICKLE_INTERVAL_S, max_files=None)
    # releases sit just before the trigger instants (which Spark aligns
    # to multiples of the interval), so a batch never waits for polling
    interval_ms = int(TRICKLE_INTERVAL_S * 1000)
    first_trigger = (int(time.time() * 1000) // interval_ms + 1) * interval_ms / 1000.0
    lead = 0.25
    due = [first_trigger - lead + k * TRICKLE_INTERVAL_S for k in range(n)]
    ctx.tracer.since = due[first]
    lateness: list[float] = []

    def releaser() -> None:
        for k in range(n):
            delay = due[k] - time.time()
            if delay > 0:
                time.sleep(delay)
            run.release(k)
            if k >= first:
                lateness.append(time.time() - due[k])

    rel = threading.Thread(target=releaser, name="perfbench-releaser")
    rel.start()
    reader_tables: dict = {}
    next_read, n_reads = due[first] + TRICKLE_READ_PHASE_S, 0
    deadline = due[-1] + 60.0
    try:
        while time.time() < deadline:
            if n_reads < n - first and time.time() >= next_read:
                t = TRICKLE.tables[n_reads % len(TRICKLE.tables)]
                run.read_target(t.name, reader_tables, out)
                n_reads += 1
                # one read per measured batch: a read that overran
                # delays the next one instead of skipping it
                next_read += TRICKLE_INTERVAL_S
                continue
            # status checks are gateway calls and a checkpoint listing:
            # made sparingly, so they do not compete with the batches
            if q.exception() is not None or not q.isActive:
                break
            if n_reads == n - first and len(lateness) == n - first and run.all_committed(n):
                break
            wait = next_read - time.time() if n_reads < n - first else 0.25
            time.sleep(min(0.25, max(0.0, wait)))
    finally:
        rel.join()
        progress = _stop_stream(run, q)
    log("stream stopped")
    epochs = _account(run, out, range(first, n), due)
    out.window = (due[first], max(run.commit_end.values(), default=due[first]))
    out.query_s = list(out.read_s)
    lead_in = {epochs.get(b) for b in range(first)}
    progress = [p for p in progress if p["batchId"] not in lead_in]
    out.extra.update(progress=progress, lateness=lateness)
    run.check(out, n, run.final_reads())
    if ctx.tracer.enabled:
        out.extra["winners"] = run.winners(epochs)
    return out


def cdc_bulk(ctx: Ctx) -> Outcome:
    """Closed loop: back-to-back ~50k-event batches (one file per
    micro-batch) into one wide eager target pre-loaded by
    ``initial_copy``; full reads after the stream."""
    out = Outcome()
    run = CdcRun(ctx, BULK, merge_on_read=False, num_buckets=32)
    n = max(2, round(ctx.seconds / BULK_BATCH_S))
    run.write_snapshots()
    run.stage_batches(n)
    log("inputs generated")
    run.timed_setup(out, warm_up_applies=1)
    log(f"set up: {', '.join(f'{x:.2f}s' for x in out.setup_s)}")
    layers.install(ctx.tracer)
    for b in range(n):
        run.release(b)
    start = time.time()
    q = run.start_stream(0.0, max_files=1)
    try:
        while len(run.commit_end) < n and time.time() < start + 90.0:
            if q.exception() is not None or not q.isActive:
                break
            time.sleep(0.05)
    finally:
        progress = _stop_stream(run, q)
    # closed loop: a batch is due when the previous one committed
    ends = [run.commit_end[e] for e in sorted(run.commit_end)]
    due = [start] + ends[:-1] + [start] * (n - len(ends))
    log("stream stopped")
    epochs = _account(run, out, range(n), due)
    out.window = (start, max(ends, default=start))
    reader_tables: dict = {}
    for _ in range(3):
        run.read_target(BULK.tables[0].name, reader_tables, out)
    out.query_s = list(out.read_s)
    out.extra.update(progress=progress, lateness=[])
    run.check(out, n, run.final_reads())
    if ctx.tracer.enabled:
        out.extra["winners"] = run.winners(epochs)
    return out


# -- analytics catalog --------------------------------------------------------------


def catalog_mix(ctx: Ctx) -> Outcome:
    """One refresh pass over CATALOG_ENTRIES: fn → noop-sink write (and
    in traced runs the physical plan in between), each entry checked
    against its DuckDB oracle after the pass."""
    from etl_stream_spark.catalog import CATALOG
    from etl_stream_spark.session import TABLE_NAMES, load_table

    out = Outcome()
    data = os.path.join(ctx.work, "catalog_data")
    write_catalog_tables(data, ctx.seed, CATALOG_SF)
    spark = ctx.spark
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        for name in TABLE_NAMES:
            load_table(spark, data, name)
        out.setup_s.append(time.perf_counter() - t0)
    log(f"set up: {', '.join(f'{x:.2f}s' for x in out.setup_s)}")
    layers.install(ctx.tracer)
    tracer = ctx.tracer
    results = {}
    # one refresh of the whole catalog: every entry is due when the
    # pass starts, so an entry's freshness includes the entries before it
    start = time.time()
    for name in CATALOG_ENTRIES:
        out.attempted += 1
        fn = CATALOG[name].fn
        t0 = time.time()
        try:
            with tracer.span("catalog", entry=name):
                with tracer.span("catalog.build", entry=name):
                    df = fn(spark, data)
                if tracer.enabled:
                    with tracer.span("catalog.plan", entry=name):
                        df._jdf.queryExecution().executedPlan()
                # persisted so the check after the pass reads the very
                # rows this write evaluated; building that cache is part
                # of the timed exec
                df = df.persist()
                t1 = time.time()
                with tracer.span("catalog.exec", entry=name):
                    noop(df)
        except Exception:
            out.failed += 1
            log(f"{name} failed:\n{traceback.format_exc()}")
            continue
        end = time.time()
        log(f"{name}: {end - t0:.2f}s (exec {end - t1:.2f}s)")
        # the exec phase is the full-evaluation read of the result
        out.read_s.append(end - t1)
        out.query_s.append(end - t0)
        out.commit_s.append(end - t0)
        out.freshness_s.append(end - start)
        results[name] = df
    out.window = (start, time.time())
    out.busy_s = sum(out.query_s)
    out.stored_bytes = dir_bytes(os.path.join(ctx.work, "tmp"))
    out.reference_bytes = dir_bytes(data)
    log(f"catalog pass: {sum(out.query_s):.2f}s over {len(out.query_s)} entries")
    # correctness, outside the timed pass: each entry's cached result is
    # collected and hashed against its oracle
    t_check = time.time()
    con = catalog_connection(data)
    for name, df in results.items():
        rows = [tuple(r) for r in df.collect()]
        why = catalog_mismatch(con, CATALOG[name].oracle, df.columns, rows)
        if why is not None:
            out.failed += 1
            log(f"{name}: result differs from its oracle: {why}")
        df.unpersist()
    con.close()
    log(f"catalog check: {time.time() - t_check:.2f}s")
    out.extra.update(progress=[], lateness=[])
    return out


WORKLOADS = {"cdc_trickle": cdc_trickle, "cdc_bulk": cdc_bulk, "catalog_mix": catalog_mix}
