"""Set-up, the closed measurement loop, and metric assembly.

A run is: start the session, generate the workload's inputs, warm the
plan shapes up (all three counted in ``setup_s``), then apply one batch
at a time until ``seconds`` have passed (at least ``MIN_ITERATIONS``),
reading the change feed and checking the table against the oracle after
every commit.

With ``trace`` the loop interleaves untraced and traced iterations in
the order u t t u (repeated), so a drift over the run, such as the JIT
still warming, weighs on both kinds alike. A
traced iteration labels its jobs, wraps the entry points, and after the
commit runs the noop cuts and reads the commit's parquet footers; the
Spark event log (on only in this mode) is parsed once the session has
stopped.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.session import get_spark

from cdcbench import measure, oracle
from cdcbench.trace import Tracer
from cdcbench.workloads import BUCKETS, CFG, WORKLOADS

# a median of four damps one slow call; a traced run interleaves u t t u
# twice, so the JIT's early speed-up weighs on both kinds alike. No
# iteration takes under a second, which bounds how many inputs a run can
# consume.
MIN_ITERATIONS, MIN_TRACED_ITERATIONS = 4, 8
MIN_ITERATION_S = 1.0
# downstream consumers that each read a commit's change feed in turn
CONSUMERS = 2

# (name, unit, better) of the end-to-end metrics, printed with --trace 0
END_TO_END = (
    ("events_per_s", "1/s", "higher"),
    ("batch_p50_s", "s", "lower"),
    ("changelog_p50_s", "s", "lower"),
    ("stored_bytes_per_live_row", "B", "lower"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MiB", "lower"),
)

# (name, unit, better, aggregate) of the per-layer metrics, printed with
# --trace 1. Times are medians over the traced iterations; counts come
# from the first traced iteration, whose input is the same on every run
# of a seed, so they repeat exactly.
PER_LAYER = (
    ("session.start_s", "s", "lower", "once"),
    ("jvm.gc_s", "s", "lower", "once"),
    ("jvm.heap_peak_mb", "MiB", "lower", "once"),
    ("mysql.table_maps_s", "s", "lower", "median"),
    ("mysql.decode_s", "s", "lower", "median"),
    ("mysql.frames", "count", "higher", "first"),
    ("mysql.rows_decoded", "count", "higher", "first"),
    ("mysql.dead_letter", "count", "lower", "first"),
    ("scan.s", "s", "lower", "median"),
    ("pipeline.flatten_s", "s", "lower", "median"),
    ("pipeline.scope_dropped", "count", "lower", "first"),
    ("pipeline.lineage_s", "s", "lower", "median"),
    ("pipeline.driver_s", "s", "lower", "median"),
    ("dedup.partial_lww_s", "s", "lower", "median"),
    ("dedup.rows_in", "count", "lower", "first"),
    ("dedup.rows_out", "count", "lower", "first"),
    ("dedup.keep_ratio", "ratio", "lower", "first"),
    ("lake.merge_s", "s", "lower", "median"),
    ("lake.merge_self_s", "s", "lower", "median"),
    ("lake.append_lineage_s", "s", "lower", "median"),
    ("lake.buckets_rewritten", "count", "lower", "first"),
    ("lake.files_written", "count", "lower", "first"),
    ("lake.bytes_written", "B", "lower", "first"),
    ("lake.rows_written", "count", "lower", "first"),
    ("lake.write_amp", "ratio", "lower", "first"),
    ("lake.exchange_write_mb", "MB", "lower", "first"),
    ("lake.spill_mb", "MB", "lower", "median"),
    ("lake.task_skew", "ratio", "lower", "median"),
    ("lake.exchanges", "count", "lower", "first"),
    ("lake.changes_s", "s", "lower", "median"),
    ("lake.changes_rows", "count", "lower", "first"),
    ("lake.changes_buckets", "count", "lower", "first"),
    ("trace.layer_sum_ratio", "ratio", "higher", "once"),
    ("trace.overhead", "ratio", "higher", "once"),
)

# layers whose self times partition one apply call; pipeline.driver_s is
# the apply span's own self time (driver-side planning and commit glue
# between the jobs the other layers cover)
SELF_TIMES = (
    "pipeline.driver_s",
    "pipeline.lineage_s",
    "mysql.table_maps_s",
    "scan.s",
    "mysql.decode_s",
    "pipeline.flatten_s",
    "dedup.partial_lww_s",
    "lake.merge_self_s",
    "lake.append_lineage_s",
)


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    notes: list = field(default_factory=list)  # extra human-readable lines
    attempted: int = 0
    failed: int = 0
    mismatches: int = 0


# ------------------------------------------------------------------ session
def start_session(work: str, trace: bool, nproc: int):
    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap (initial = max) keeps GC pacing and the peak
        # RSS from depending on how far the heap happened to grow
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="cdcbench", master=f"local[{nproc}]", extra_conf=extra)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


# --------------------------------------------------------------------- loop
def _table(wl, i: int) -> LakeTable:
    if wl.fresh_tables:
        return LakeTable(wl.spark, os.path.join(wl.work, "tables", f"it{i}"), buckets=BUCKETS)
    return wl.table


def _iteration(wl, tracer: Tracer, i: int, traced: bool, expected: dict) -> dict:
    table = _table(wl, i)
    prev = table.snapshot()
    src = wl.source(i)
    stage_timings: dict = {}
    tracer.prefix = f"it{i}" if traced else None
    with tracer.wrapped() if traced else nullcontext():
        tracer.label("pipeline.lineage")
        t0 = time.perf_counter()
        m = wl.apply(table, src, wl.batch_id(i), stage_timings)
        t1 = time.perf_counter()
        tracer.label("lake.changes")
        reads = []
        for _ in range(CONSUMERS):
            t = time.perf_counter()
            n_changes = table.changes(prev["snapshot_id"] if prev else None).count()
            reads.append(time.perf_counter() - t)
        tracer.label(None)
    rec = {
        "i": i, "traced": traced, "events": m["events"], "applied": m["applied"],
        "apply_s": t1 - t0, "changes_s": reads,
    }

    new = table.snapshot()
    files = measure.live_files(table.path, new)
    key = tuple(wl.oracle_files(i))
    if key not in expected:
        expected.clear()
        expected[key] = oracle.expected_digest(
            list(key), CFG.scope.db_regex, CFG.scope.table_regex
        )
    live, digest = oracle.table_digest(files)
    rec["ok"] = (live, digest) == expected[key]
    rec["stored_bytes"] = sum(os.path.getsize(f) for f in files)
    rec["live_rows"] = live

    if traced:
        if "lineage_sec" in stage_timings:
            lineage = stage_timings["lineage_sec"]
        else:  # apply_mysql_batch: its lineage job runs before the table maps
            lineage = tracer.first_start("mysql.table_maps") - t0
        merge_s = tracer.span("lake.merge")
        table_maps = tracer.span("mysql.table_maps")
        append = tracer.span("lake.append_lineage")
        c = wl.cuts(tracer, src)
        commit = glob.glob(
            os.path.join(table.path, "data", f"commit-{new['snapshot_id']:08d}", "*", "*.parquet")
        )
        written = measure.footer_totals(commit)
        rewritten = len(measure.changed_buckets(
            prev["bucket_locations"] if prev else None, new["bucket_locations"]
        ))
        rec["layers"] = {
            "mysql.table_maps_s": table_maps,
            "mysql.decode_s": c["decode"] - c["scan"],
            "mysql.frames": c.get("frames", 0),
            "mysql.rows_decoded": c.get("rows_decoded", 0),
            "mysql.dead_letter": c.get("dead_letter", 0),
            "scan.s": c["scan"],
            "pipeline.flatten_s": c["flatten"] - c["decode"],
            "pipeline.scope_dropped": c["scope_dropped"],
            "pipeline.lineage_s": lineage,
            "pipeline.driver_s": (t1 - t0) - lineage - table_maps - merge_s - append,
            "dedup.partial_lww_s": c["partial"] - c["flatten"],
            "dedup.rows_in": c["rows_in"],
            "dedup.rows_out": c["rows_out"],
            "dedup.keep_ratio": c["rows_out"] / c["rows_in"],
            "lake.merge_s": merge_s,
            "lake.merge_self_s": merge_s - c["partial"],
            "lake.append_lineage_s": append,
            "lake.buckets_rewritten": rewritten,
            "lake.files_written": written["files"],
            "lake.bytes_written": written["bytes"],
            "lake.rows_written": written["rows"],
            "lake.write_amp": measure.write_amp(written["rows"], m["applied"]),
            "lake.changes_s": measure.median(reads),
            "lake.changes_rows": n_changes,
            "lake.changes_buckets": rewritten,
        }
    tracer.prefix = None
    if wl.fresh_tables:
        shutil.rmtree(table.path, ignore_errors=True)
    return rec


def _events_per_s(its) -> float:
    """Median over apply calls of events consumed per second of the call
    (a median, so one slow call does not move it)."""
    return measure.median(r["events"] / r["apply_s"] for r in its)


def run(name: str, seed: int, seconds: float, trace: bool, work: str, nproc: int) -> Result:
    res = Result()
    t0 = time.perf_counter()
    spark = start_session(work, trace, nproc)
    session_s = time.perf_counter() - t0
    its: list[dict] = []
    try:
        tracer = Tracer(spark)
        min_iterations = MIN_TRACED_ITERATIONS if trace else MIN_ITERATIONS
        max_iterations = min_iterations + int(seconds / MIN_ITERATION_S)
        wl = WORKLOADS[name](spark, work, seed, max_iterations)
        t = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + generate_s + warm_s
        res.notes.append(
            f"setup: session {session_s:.2f} s, inputs {generate_s:.2f} s, "
            f"warm-up {warm_s:.2f} s"
        )

        tracer.reset_heap_peak()
        gc0 = tracer.gc_seconds()
        expected: dict = {}
        start = time.perf_counter()
        i = 0
        while i < max_iterations and (
            time.perf_counter() - start < seconds or i < min_iterations
        ):
            res.attempted += 2 + CONSUMERS  # apply, changelog reads, oracle check
            try:
                rec = _iteration(wl, tracer, i, trace and i % 4 in (1, 2), expected)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                res.failed += 1
                break
            its.append(rec)
            res.mismatches += not rec["ok"]
            i += 1
        gc_s = tracer.gc_seconds() - gc0
        heap_peak = tracer.heap_peak_mb()
        rss = measure.peak_rss_mb([os.getpid(), tracer.jvm_pid()])
    finally:
        stop_session(spark)
    res.failed += res.mismatches
    if not its:
        return res

    plain = [r for r in its if not r["traced"]]
    apply_s = [r["apply_s"] for r in plain]
    first = plain[0]
    res.notes.append(
        f"samples: {len(plain)} untraced applies, {len(its) - len(plain)} traced; "
        f"tail percentile: {measure.tail_percentile(apply_s) or 'n/a (under 20 samples)'}"
    )
    res.notes.append("apply_s " + " ".join(f"{r['apply_s']:.3f}" for r in its))
    res.notes.append("changes_s " + " ".join(f"{x:.3f}" for r in its for x in r["changes_s"]))
    res.notes.append(f"error_rate {res.failed / res.attempted:.6g} ratio")
    e2e = {
        "events_per_s": _events_per_s(plain),
        "batch_p50_s": measure.median(apply_s),
        "changelog_p50_s": measure.median(x for r in plain for x in r["changes_s"]),
        "stored_bytes_per_live_row": first["stored_bytes"] / first["live_rows"],
        "setup_s": setup_s,
        "peak_rss_mb": rss,
    }
    if not trace:
        res.metrics = {n: (e2e[n], unit) for n, unit, _ in END_TO_END}
        return res

    traced = [r for r in its if r["traced"]]
    stages = measure.attribute_stages(
        measure.read_event_log(os.path.join(work, "eventlog"))
    )
    for r in traced:
        merge = stages.get(f"it{r['i']}:lake.merge", {})
        r["layers"].update({
            "lake.exchange_write_mb": merge.get("shuffle_write_bytes", 0) / 1e6,
            "lake.spill_mb": merge.get("disk_spill_bytes", 0) / 1e6,
            "lake.task_skew": measure.task_skew(merge["write_task_ms"])
            if merge.get("write_task_ms") else 1.0,
            "lake.exchanges": merge.get("exchanges", 0),
        })
    once = {
        "session.start_s": session_s,
        "jvm.gc_s": gc_s / len(its),  # collector time per iteration of the loop
        "jvm.heap_peak_mb": heap_peak,
    }
    layers = {}
    for n, unit, _, how in PER_LAYER:
        if how == "median":
            layers[n] = measure.median(r["layers"][n] for r in traced)
        elif how == "first":
            layers[n] = traced[0]["layers"][n]
        elif n in once:
            layers[n] = once[n]
    layers["trace.layer_sum_ratio"] = sum(layers[n] for n in SELF_TIMES) / e2e["batch_p50_s"]
    layers["trace.overhead"] = _events_per_s(traced) / e2e["events_per_s"]
    res.metrics = {n: (layers[n], unit) for n, unit, _, _ in PER_LAYER}
    res.notes += [f"{n} {e2e[n]:.6g} {unit} (untraced iterations)" for n, unit, _ in END_TO_END]
    return res
