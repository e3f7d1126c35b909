"""Tracing from outside the package: job labels, method wrappers and
cumulative noop-sink cuts.

* ``Tracer.wrapped`` wraps the public methods that run the merge/commit
  and table-map jobs and records a span per call; while ``prefix`` is
  set, every Spark job is labelled ``<prefix>:<layer>``
  (``setJobDescription``), so the event log attributes stages to layers.
* ``Tracer.cut`` runs a plan prefix into the ``noop`` sink with a row
  count riding the same job; differences between successive cuts give
  the self time of each lazy layer (scan, decode, flatten, partial LWW)
  that the merge job otherwise fuses into one stage pipeline.
"""

from __future__ import annotations

import contextlib
import time

from pyspark.sql import DataFrame, Observation, functions as F

import binlogsub_spark.mysql_binlog as mysql_binlog
from binlogsub_spark.lake.table import LakeTable

# (owner, attribute, layer) of every wrapped entry point
WRAPPED = (
    (LakeTable, "merge", "lake.merge"),
    (LakeTable, "append_lineage", "lake.append_lineage"),
    (mysql_binlog, "extract_table_maps", "mysql.table_maps"),
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.prefix: str | None = None
        self.spans: list[tuple[str, float, float]] = []
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory

    # ------------------------------------------------------------ labels
    def label(self, layer: str | None) -> None:
        self.sc.setJobDescription(
            f"{self.prefix}:{layer}" if self.prefix and layer else None
        )

    def span(self, layer: str) -> float:
        """Summed seconds of this iteration's calls into ``layer``."""
        return sum(t1 - t0 for name, t0, t1 in self.spans if name == layer)

    def first_start(self, layer: str) -> float | None:
        starts = [t0 for name, t0, _ in self.spans if name == layer]
        return min(starts) if starts else None

    def _wrap(self, layer: str, fn):
        def wrapper(*args, **kwargs):
            outer = self.sc.getLocalProperty("spark.job.description")
            self.label(layer)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((layer, t0, time.perf_counter()))
                self.sc.setJobDescription(outer)

        return wrapper

    @contextlib.contextmanager
    def wrapped(self):
        """Time every call into the wrapped entry points (fresh spans);
        restores the originals on exit."""
        self.spans = []
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in WRAPPED]
        for (owner, attr, layer), (_, _, fn) in zip(WRAPPED, saved):
            setattr(owner, attr, self._wrap(layer, fn))
        try:
            yield self
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    # -------------------------------------------------------------- cuts
    def cut(self, df: DataFrame, layer: str) -> tuple[float, int]:
        """(seconds, rows) of running ``df`` into the noop sink."""
        obs = Observation()
        self.label(layer)
        t0 = time.perf_counter()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        self.label(None)
        return dt, int(obs.get["n"])

    # --------------------------------------------------------------- JVM
    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans()) / 1e3

    def _heap_pools(self):
        heap = self.sc._jvm.java.lang.management.MemoryType.HEAP
        return [p for p in self._mf.getMemoryPoolMXBeans() if p.getType().equals(heap)]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20

    def jvm_pid(self) -> int:
        return int(self._mf.getRuntimeMXBean().getPid())
