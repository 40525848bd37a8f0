"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0

Runs one workload against the engine in this checkout and prints, as
the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` a traced
run reports the per-layer metrics instead.  Human-readable lines go to
standard error.  Everything the run writes stays under
``.perfbench_work/`` in the checkout and is removed at exit.

Exit status is non-zero, with no result line, when the engine cannot
be imported or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEMORY = "3g"

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "freshness_p50_s": "s",
    "freshness_tail_s": "s",
    "commit_p50_s": "s",
    "read_p50_s": "s",
    "storage_amp": "ratio",
    "query_total_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
}


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; with fewer than 20 samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n >= 20:
        return s[n - 11], 100.0 * (n - 10) / n
    return s[-1], 100.0


def end_to_end(out, session_s: float) -> dict[str, float]:
    """The end-to-end metrics of an untraced run (see README.md for
    what each means on each workload)."""
    return {
        "setup_s": session_s + statistics.median(out.setup_s),
        "rows_per_s": out.rows / out.busy_s,
        "freshness_p50_s": statistics.median(out.freshness_s),
        "freshness_tail_s": tail(out.freshness_s)[0],
        "commit_p50_s": statistics.median(out.commit_s),
        "read_p50_s": statistics.median(out.read_s),
        "storage_amp": out.stored_bytes / out.reference_bytes,
        "query_total_s": sum(out.query_s),
        "query_geomean_s": math.exp(
            sum(math.log(x) for x in out.query_s) / len(out.query_s)
        ),
        "peak_rss_mb": peak_rss_mb(),
    }


def _proc_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident sizes (VmHWM) of this process, the JVM and
    the Python workers it forked."""
    total_kb = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    forked, and wait until every one of them has exited."""
    import signal

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    pids = [p for p in _proc_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def remove_work(work: str) -> None:
    """Delete a run's work directory, and ``.perfbench_work`` when no
    other run is using it."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def write_probe_table(path: str) -> None:
    """A fixed (seed-independent) table for the drift probe's scan."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(12345)
    n = 500_000
    pq.write_table(
        pa.table({"k": rng.integers(0, 1000, n), "v": rng.normal(0, 1, n)}), path
    )


def drift_probe(spark, probe_path: str) -> float:
    """Fixed work that no engine change touches: a ``spark.range``
    aggregate and one parquet scan.  Its time tracks the box."""
    t0 = time.perf_counter()
    spark.range(0, 10_000_000, 1, CORES).selectExpr("sum(id % 7)", "max(id)").collect()
    spark.read.parquet(probe_path).groupBy("k").sum("v").write.format("noop").mode(
        "overwrite"
    ).save()
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    try:
        import etl_stream_spark.cdc.pipeline  # noqa: F401
        from etl_stream_spark.session import get_spark

        import layers
        import workloads
        from spans import Tracer
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        remove_work(work)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        remove_work(work)
        return 2

    probe_path = os.path.join(work, "probe.parquet")
    write_probe_table(probe_path)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(work, "spark-local"),
                # a fixed heap: peak RSS then follows the pages the run
                # touches, not the collector's heap-resizing decisions;
                # no perf-data file, which the JVM writes outside its tmpdir
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
                ),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            },
        )
        session_s = time.perf_counter() - t0
        workloads.log(f"session started in {session_s:.2f}s")
        drift_probe(spark, probe_path)  # warm-up: first job, codegen, reader
        probe_start = drift_probe(spark, probe_path)
        workloads.log(f"drift probe: {probe_start:.2f}s")
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds)
        out = workloads.WORKLOADS[args.workload](ctx)
        tracer.unpatch()
        workloads.log("workload done")
        probe_end = drift_probe(spark, probe_path)

        if args.workload == "catalog_mix":
            out.rows = layers.input_rows(spark, *out.window)
        e2e = end_to_end(out, session_s)
        if args.trace:
            for k, v in e2e.items():
                print(f"# traced {k:<37} {v:>16.6g} {END_TO_END[k]}", file=sys.stderr)
            m = layers.compute(tracer, spark, out, CORES, workloads.CATALOG_ENTRIES)
            m["session.start_s"] = session_s
            m["box.probe_start_s"] = probe_start
            m["box.probe_end_s"] = probe_end
            units = dict(layers.LAYER_METRICS)
            units.update(layers.catalog_entry_metrics(workloads.CATALOG_ENTRIES))
            units.update(layers.LAYER_TAIL)
            for k, v in layers.shares(tracer, out).items():
                print(f"# share of time in {k:<27} {v:>16.3f}", file=sys.stderr)
        else:
            m = e2e
            units = END_TO_END
            print(
                f"# freshness_tail_s is p{tail(out.freshness_s)[1]:.0f} "
                f"of {len(out.freshness_s)} samples",
                file=sys.stderr,
            )
        error_rate = out.failed / max(out.attempted, 1)
        for k in units:
            print(f"# {k:<44} {m[k]:>16.6g} {units[k]}", file=sys.stderr)
        print(f"# {'error_rate':<44} {error_rate:>16.6g} ratio", file=sys.stderr)
        print(f"# {'read retries':<44} {out.read_retries:>16d}", file=sys.stderr)
        result = {
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {k: {"value": m[k], "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
            workloads.log("session stopped")
        remove_work(work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
