"""CDC ingest benchmark: one workload, one seed, one JSON result line.

    python3 cdcbench/run.py --workload incremental_cdc --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones (see README.md). The last line
of standard output is ``{"correct", "attempted", "failed", "metrics"}``;
the exit code is non-zero when any operation failed or the table
differed from the oracle. Scratch files live in ``.cdcbench_work/`` under
the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _host_fit(work: str) -> int:
    """Size the launch to this host without touching the package: every
    core, a heap of an eighth of RAM (at most 2 GiB), scratch and JVM temp
    files under ``work``, and a PYTHONPATH that lets Spark's Python
    workers import the package from any working directory."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": f"{max(1024, min(2048, total_mb // 8))}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    sys.path.insert(0, ROOT)
    return nproc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("bulk_replay", "mysql_replay", "incremental_cdc"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "binlogsub_spark")):
        print(f"no binlogsub_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".cdcbench_work", f"run-{os.getpid()}")
    try:
        nproc = _host_fit(work)
        from cdcbench import loop

        res = loop.run(args.workload, args.seed, args.seconds, bool(args.trace), work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    for line in res.notes:
        print(line)
    for name, (value, unit) in res.metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in res.metrics.items()},
    }))
    return 0 if res.failed == 0 and res.metrics else 1


if __name__ == "__main__":
    sys.exit(main())
