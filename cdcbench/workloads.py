"""The benchmark's workloads: inputs, warm-up, the apply and the cuts.

Every workload drives the package only through public entry points:
the ``sources.generator`` writers make the inputs, ``apply_batch`` or
``apply_mysql_batch`` ingests them, and ``LakeTable.changes`` reads the
change feed a downstream consumer sees after each commit. One caller runs
one operation at a time (a closed loop).

* ``bulk_replay``: a structured envelope backlog applied as one batch
  into an empty table, again and again (a fresh table each time).
* ``mysql_replay``: the same logical stream at half the size, encoded as
  genuine MySQL v2 rows-event frames, applied the same way.
* ``incremental_cdc``: a base table, then fixed-size micro-batches of a
  second stream over the same key space, each followed by a changelog
  read of exactly that commit.
"""

from __future__ import annotations

import dataclasses
import glob
import os
import shutil

from pyspark.sql import functions as F

from binlogsub_spark.config import EngineConfig
from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.mysql_binlog import (
    decode_mysql_events,
    extract_table_maps,
    split_deadletter_mysql,
)
from binlogsub_spark.operators.dedup import partial_lww_reduce
from binlogsub_spark.pipeline import (
    apply_batch,
    apply_mysql_batch,
    mysql_decoded_to_upserts,
    override_columns_by_table,
    prepare_upserts,
    scope_registry,
)
from binlogsub_spark.sources.generator import (
    GeneratorParams,
    generate_binlog,
    transcripts_table_maps,
    write_binlog,
    write_mysql_binlog,
)

# Sized for a 4-core host, where Spark's per-job and per-task costs
# dominate small batches: 8 buckets (the merge writes 4 slots per bucket,
# so 32 write tasks) and inputs of tens of thousands of events keep an
# apply at a few seconds, so a run holds several applies after the cold
# start. The generator's MySQL encoder is per-row Python, the costliest
# input to make, hence the smaller MySQL stream.
BUCKETS = 8
CFG = EngineConfig()
BULK_EVENTS = 100_000
MYSQL_EVENTS = 25_000
BASE_EVENTS = 50_000
MICRO_EVENTS = 5_000
# MySQL rows-event v2 type codes (WRITE, UPDATE, DELETE) and the offset of
# the 6-byte table id right after the 19-byte event header
_ROWS_TYPES = (0x1E, 0x1F, 0x20)


def stream_params(n_events: int, seed: int, dup_tail: int | None = None) -> GeneratorParams:
    """The shared stream shape: a key space as large as the stream, 2.5 %
    replayed tail, 30 % hot conversation, 5 % out-of-scope noise and
    schema evolution at 60 % (the generator's defaults)."""
    return GeneratorParams(
        n_events=n_events,
        n_convs=max(n_events // 50, 100),
        dup_tail=n_events // 40 if dup_tail is None else dup_tail,
        events_per_file=16_384,
        seed=seed,
    )


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _name_map() -> dict:
    m: dict = {}
    for tm in transcripts_table_maps().values():
        m.setdefault((tm.db, tm.table), []).append(tm.columns)
    return m


# ----------------------------------------------------------------- workloads
class BulkReplay:
    """Structured backlog into an empty table: flatten, partial LWW, the
    bucket exchange and the parquet write, with no decode kernel and no
    current-state read."""

    name = "bulk_replay"
    fresh_tables = True
    # the JIT keeps speeding applies up for several calls after the cold one
    warm_up_applies = 2

    def __init__(self, spark, work: str, seed: int, iterations: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.iterations = iterations  # the most a run measures
        self.src = os.path.join(work, "input", "binlog")

    def generate(self) -> None:
        write_binlog(self.spark, self.src, stream_params(BULK_EVENTS, self.seed), n_files=16)

    def warm_up(self) -> None:
        """The measured plan shapes, on throwaway tables."""
        for k in range(self.warm_up_applies):
            table = LakeTable(self.spark, os.path.join(self.work, "tables", f"warm{k}"), buckets=BUCKETS)
            self.apply(table, self.source(0), 1, {})
            table.changes(None).count()
            shutil.rmtree(table.path)

    def source(self, i: int):
        return self.spark.read.parquet(self.src)

    def batch_id(self, i: int) -> int:
        return 1

    def apply(self, table, src, batch_id: int, stage_timings: dict) -> dict:
        return apply_batch(table, src, batch_id, cfg=CFG, stage_timings=stage_timings)

    def oracle_files(self, i: int) -> list[str]:
        return _parquet_files(self.src)

    def cuts(self, tracer, src) -> dict:
        scan_s, events = tracer.cut(src, "cut.scan")
        upserts = prepare_upserts(src, CFG)
        flat_s, rows_in = tracer.cut(upserts, "cut.flatten")
        part_s, rows_out = tracer.cut(
            partial_lww_reduce(upserts, salt=CFG.skew_salt), "cut.partial_lww"
        )
        return {
            "scan": scan_s, "decode": scan_s, "flatten": flat_s, "partial": part_s,
            "rows_in": rows_in, "rows_out": rows_out,
            "scope_dropped": events - rows_in,
        }


class MysqlReplay(BulkReplay):
    """Genuine MySQL frames: registry extraction and the Arrow wave decode
    in front of the same merge tail as ``bulk_replay``."""

    name = "mysql_replay"

    def __init__(self, spark, work: str, seed: int, iterations: int):
        super().__init__(spark, work, seed, iterations)
        self.src = os.path.join(work, "input", "frames")
        self.twin = os.path.join(work, "input", "twin")
        self.name_map = _name_map()

    def generate(self) -> None:
        params = stream_params(MYSQL_EVENTS, self.seed)
        write_mysql_binlog(self.spark, self.src, params, n_files=16)
        # the structured twin of the same seed and params: the oracle's input
        generate_binlog(self.spark, params).write.parquet(self.twin)

    def apply(self, table, src, batch_id: int, stage_timings: dict) -> dict:
        return apply_mysql_batch(
            table, src, batch_id, cfg=CFG, name_map=self.name_map, registry_cache={}
        )

    def oracle_files(self, i: int) -> list[str]:
        return _parquet_files(self.twin)

    def cuts(self, tracer, src) -> dict:
        # the decode the apply runs: registry -> scope -> named columns
        tracer.label("cut.registry")
        registry = extract_table_maps(src, checksum=True)
        scoped = scope_registry(registry, CFG)
        decoded = decode_mysql_events(
            src, scoped,
            column_overrides=override_columns_by_table(scoped, self.name_map),
            checksum=True, known_table_ids=set(registry),
        )
        scan_s, frames = tracer.cut(src, "cut.scan")
        dec_s, rows = tracer.cut(decoded, "cut.decode")
        upserts = mysql_decoded_to_upserts(decoded, CFG)
        flat_s, rows_in = tracer.cut(upserts, "cut.flatten")
        part_s, rows_out = tracer.cut(
            partial_lww_reduce(upserts, salt=CFG.skew_salt), "cut.partial_lww"
        )
        tracer.label("cut.dead_letter")
        _, dead = split_deadletter_mysql(
            src, checksum=True, registry=scoped, known_table_ids=set(registry)
        )
        n_dead = dead.count()
        in_scope = [F.lit(tid.to_bytes(6, "little")) for tid in scoped]
        tracer.label("cut.scope")
        dropped = src.where(
            F.expr("substring(payload, 5, 1)").isin(
                *[F.lit(bytes([t])) for t in _ROWS_TYPES]
            )
            & ~F.expr("substring(payload, 20, 6)").isin(*in_scope)
        ).count()
        tracer.label(None)
        return {
            "scan": scan_s, "decode": dec_s, "flatten": flat_s, "partial": part_s,
            "frames": frames, "rows_decoded": rows,
            "rows_in": rows_in, "rows_out": rows_out,
            "dead_letter": n_dead, "scope_dropped": dropped,
        }


class IncrementalCdc(BulkReplay):
    """Micro-batches into a populated table: copy-on-write rewrite of the
    touched buckets, the lineage pre-job and the manifest-diff changelog."""

    name = "incremental_cdc"
    fresh_tables = False
    # micro-batch applies and changelog reads keep speeding up for about
    # four calls after the base is built
    warm_up_applies = 4

    def __init__(self, spark, work: str, seed: int, iterations: int):
        super().__init__(spark, work, seed, iterations)
        self.src = os.path.join(work, "input", "base")
        self.micro = os.path.join(work, "input", "micro")
        self.table = LakeTable(spark, os.path.join(work, "tables", "incremental"), buckets=BUCKETS)

    def generate(self) -> None:
        write_binlog(self.spark, self.src, stream_params(BASE_EVENTS, self.seed), n_files=8)
        # the stream continues after the base (later ts and positions) from
        # seed+1 over the same key space; each batch re-delivers the last
        # 2.5 % of its predecessor, like a reconnect replaying its tail
        size, replay = MICRO_EVENTS, MICRO_EVENTS // 40
        n = self.warm_up_applies + self.iterations
        params = dataclasses.replace(
            stream_params(BASE_EVENTS + n * size, self.seed + 1, dup_tail=0),
            n_convs=stream_params(BASE_EVENTS, self.seed).n_convs,
        )
        offset = F.col("delivery_seq") - BASE_EVENTS
        events = generate_binlog(self.spark, params).where(offset >= 0)
        batch = F.floor(offset / size).cast("int")
        tails = events.where((offset % size >= size - replay) & (batch < n - 1))
        (
            events.withColumn("mb", batch)
            .unionByName(tails.withColumn("mb", batch + 1))
            .repartition(8, "mb")
            .sortWithinPartitions("mb", "delivery_seq")
            .write.partitionBy("mb")
            .parquet(self.micro)
        )

    def warm_up(self) -> None:
        """Builds the base table (batch 1, the bulk plan shape), then
        applies the first micro-batches (the incremental shape) and reads
        their changelogs. None is measured; all stay in the table."""
        apply_batch(self.table, self.spark.read.parquet(self.src), 1, cfg=CFG)
        for mb in range(self.warm_up_applies):
            prev = self.table.snapshot()["snapshot_id"]
            apply_batch(self.table, self.spark.read.parquet(self._batch_dir(mb)), mb + 2, cfg=CFG)
            self.table.changes(prev).count()

    def _batch_dir(self, mb: int) -> str:
        return os.path.join(self.micro, f"mb={mb}")

    def source(self, i: int):
        # the first micro-batches are the warm-up
        return self.spark.read.parquet(self._batch_dir(self.warm_up_applies + i))

    def batch_id(self, i: int) -> int:
        return self.warm_up_applies + i + 2  # the base is batch 1

    def oracle_files(self, i: int) -> list[str]:
        files = _parquet_files(self.src)
        for mb in range(self.warm_up_applies + i + 1):
            files += _parquet_files(self._batch_dir(mb))
        return files


WORKLOADS = {w.name: w for w in (BulkReplay, MysqlReplay, IncrementalCdc)}
