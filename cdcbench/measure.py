"""Pure arithmetic of the benchmark: order statistics, manifest diffs,
parquet footers, Spark event-log attribution and /proc memory.

Nothing here imports Spark, so the unit tests in ``tests/`` run in
milliseconds on hand-made inputs.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics


# ------------------------------------------------------- order statistics --
def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def nearest_rank(values, q: float) -> float:
    """The q-th percentile by the nearest-rank rule: the smallest sample
    with at least q % of the samples at or below it."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    return float(vals[max(math.ceil(q / 100 * len(vals)), 1) - 1])


def tail_percentile(values, candidates=(99, 95, 90, 75, 50)):
    """The highest percentile with at least ten samples beyond it, as
    ``(q, value)``, or ``None`` when even the median lacks ten."""
    n = len(values)
    for q in candidates:
        if n - math.ceil(q / 100 * n) >= 10:
            return q, nearest_rank(values, q)
    return None


# ------------------------------------------------------------- manifests --
def changed_buckets(old_locations: dict | None, new_locations: dict) -> list[int]:
    """Buckets whose committed location differs between two manifests'
    ``bucket_locations`` — the buckets a commit rewrote (or a changelog
    read must diff). ``None`` stands for the empty table."""
    old = old_locations or {}
    return sorted(
        int(b)
        for b in set(old) | set(new_locations)
        if old.get(b) != new_locations.get(b)
    )


def live_files(table_path: str, manifest: dict) -> list[str]:
    """Parquet files referenced by a manifest, bucket by bucket."""
    out = []
    for b, commit in sorted(manifest["bucket_locations"].items(), key=lambda x: int(x[0])):
        if commit is not None:
            out += sorted(
                glob.glob(
                    os.path.join(table_path, "data", commit, f"_bucket={b}", "*.parquet")
                )
            )
    return out


def footer_totals(files) -> dict:
    """Files, bytes and rows of a set of parquet files, rows read from
    their footers (no data pages are read)."""
    import pyarrow.parquet as pq

    files = list(files)
    return {
        "files": len(files),
        "bytes": sum(os.path.getsize(f) for f in files),
        "rows": sum(pq.read_metadata(f).num_rows for f in files),
    }


def write_amp(rows_written: int, applied: int) -> float:
    """Rows a commit wrote per row the batch changed. A copy-on-write
    commit rewrites every row of each touched bucket, so this is >= 1
    whenever anything was applied."""
    if applied <= 0:
        raise ValueError("write amplification of a commit that applied nothing")
    return rows_written / applied


# ------------------------------------------------------------- event log --
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (uncompressed, unrolled) logs under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def count_nodes(plan: dict, name: str) -> int:
    return int(plan.get("nodeName") == name) + sum(
        count_nodes(c, name) for c in plan.get("children", ())
    )


def attribute_stages(events) -> dict[str, dict]:
    """Group task metrics by the job description (layer label) of the job
    that ran each stage.

    Returns ``label -> {shuffle_write_bytes, disk_spill_bytes, exchanges,
    write_task_ms}``. ``exchanges`` counts
    shuffle ``Exchange`` nodes in the final (post-AQE) plan of each SQL
    execution the label's jobs belong to. ``write_task_ms`` holds the
    durations of the tasks that wrote output in the label's write stage
    (the stage whose tasks wrote the most records); empty tasks are left
    out, so the spread is the skew between the data partitions."""
    job_label: dict[int, str | None] = {}
    job_exec: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    plans: dict[str, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            job_label[jid] = props.get("spark.job.description")
            job_exec[jid] = props.get("spark.sql.execution.id")
            for sid in e.get("Stage IDs", ()):
                stage_job.setdefault(sid, jid)  # the first job to list a stage runs it
        elif kind in (_SQL_START, _SQL_AQE):
            plans[str(e["executionId"])] = e["sparkPlanInfo"]
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)

    out: dict[str, dict] = {}
    execs: dict[str, set] = {}
    writes: dict[str, tuple[int, list[float]]] = {}
    for sid, stage_tasks in tasks.items():
        label = job_label.get(stage_job.get(sid))
        if label is None:
            continue
        acc = out.setdefault(label, {"shuffle_write_bytes": 0, "disk_spill_bytes": 0})
        records, durations = 0, []
        for t in stage_tasks:
            m = t.get("Task Metrics") or {}
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["disk_spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            written = (m.get("Output Metrics") or {}).get("Records Written", 0)
            if written:
                records += written
                info = t["Task Info"]
                durations.append(info["Finish Time"] - info["Launch Time"])
        if records and records > writes.get(label, (0, []))[0]:
            writes[label] = (records, durations)
    for jid, label in job_label.items():
        if label is not None and job_exec.get(jid) is not None:
            execs.setdefault(label, set()).add(job_exec[jid])
    for label, acc in out.items():
        acc["exchanges"] = sum(
            count_nodes(plans[x], "Exchange") for x in execs.get(label, ()) if x in plans
        )
        acc["write_task_ms"] = writes.get(label, (0, []))[1]
    return out


def task_skew(durations_ms) -> float:
    """Slowest task over the median task of a stage (1.0 = perfectly even)."""
    med = median(durations_ms)
    return max(durations_ms) / med if med > 0 else 1.0


# ---------------------------------------------------------------- memory --
def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes, MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024
