"""Schema evolution: the `tool` column appears mid-stream; the sink does
schema-union + null-backfill (SURVEY.md §5 test #4; reference epoch flush
/root/reference/packet.cc:141-148)."""

from __future__ import annotations

from pyspark.sql import functions as F

from binlogsub_spark.lake.table import LakeTable
from binlogsub_spark.pipeline import apply_batch, prepare_upserts
from binlogsub_spark.config import EngineConfig
from binlogsub_spark.sources.generator import GeneratorParams, generate_binlog


def test_v1_rows_never_carry_tool(spark, tmp_path):
    ev = generate_binlog(spark, GeneratorParams(n_events=4000, dup_tail=0))
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    apply_batch(table, ev, batch_id=1)
    final = table.read()
    # post-evolution tool-role rows carry a populated tool column
    assert final.where((F.col("role") == "tool") & F.col("tool").isNotNull()).count() > 0


def test_schema_epoch_projection_nulls_pre_evolution_tool(spark):
    """Even if a v1-epoch frame physically carries a tool field, the epoch
    projection must null it (the column did not exist in that table-map
    epoch — /root/reference/packet.cc:141-148 semantics)."""
    from binlogsub_spark.pipeline import project_schema_epoch

    df = spark.createDataFrame(
        [("c", 0, "tool_9", 1), ("c", 1, "tool_9", 2)],
        "conv_id string, turn_idx int, tool string, schema_version int",
    )
    out = {r["turn_idx"]: r["tool"] for r in project_schema_epoch(df).collect()}
    assert out[0] is None and out[1] == "tool_9"


def test_table_schema_union_backfill(spark, tmp_path):
    """Commit a v1-era batch whose frame does not even HAVE the tool column,
    then a v2 batch that does: table schema unions, old rows read as null."""
    ev = generate_binlog(spark, GeneratorParams(n_events=4000, dup_tail=0)).cache()
    evo_point = int(4000 * 0.6)
    v1 = ev.where(F.col("delivery_seq") < evo_point)
    v2 = ev.where(F.col("delivery_seq") >= evo_point)

    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=8)
    u1 = prepare_upserts(v1, EngineConfig()).drop("tool")  # pre-evolution wire frame
    table.merge(u1, batch_id=1)
    assert "tool" not in [f["name"] for f in
                          __import__("json").loads(table.snapshot()["schema_json"])["fields"]]

    u2 = prepare_upserts(v2, EngineConfig())
    table.merge(u2, batch_id=2)
    cols = table.read().columns
    assert "tool" in cols  # schema-union happened

    # rows untouched since batch 1 read back with tool null-backfilled
    final = table.read()
    assert final.where(F.col("tool").isNull()).count() > 0
    assert final.where(F.col("tool").isNotNull()).count() > 0
    ev.unpersist()


def test_schema_type_conflict_raises(spark, tmp_path):
    """A batch delivering an INCOMPATIBLE type for an existing column (int
    data for a string column) must fail loudly — not silently cast to
    NULLs/garbage in the committed commit (ADVICE r4)."""
    import pytest

    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    base = spark.createDataFrame(
        [("c1", 0, "hello", "I", 1.0, 0, 100)],
        "conv_id string, turn_idx int, text string, _op string, "
        "_ts double, _file_seq int, _log_pos long",
    )
    table.merge(base, batch_id=1)
    bad = spark.createDataFrame(
        [("c1", 1, 42, "I", 2.0, 0, 200)],
        "conv_id string, turn_idx int, text int, _op string, "
        "_ts double, _file_seq int, _log_pos long",
    )
    with pytest.raises(Exception, match="schema conflict.*text"):
        table.merge(bad, batch_id=2)
    # table unchanged: the failed merge committed nothing
    assert table.snapshot()["batch_id"] == 1


def test_schema_lossless_widening_allowed(spark, tmp_path):
    """int -> bigint is a lossless widening: the table column widens
    (normal schema evolution) instead of raising; a later narrow batch
    casts up into the widened column."""
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    narrow = spark.createDataFrame(
        [("c1", 0, 7, "I", 1.0, 0, 100)],
        "conv_id string, turn_idx int, score int, _op string, "
        "_ts double, _file_seq int, _log_pos long",
    )
    table.merge(narrow, batch_id=1)
    wide = spark.createDataFrame(
        [("c2", 0, 2**40, "I", 2.0, 0, 200)],
        "conv_id string, turn_idx int, score long, _op string, "
        "_ts double, _file_seq int, _log_pos long",
    )
    table.merge(wide, batch_id=2)
    final = table.read()
    assert dict(final.dtypes)["score"] == "bigint"
    got = {r["conv_id"]: r["score"] for r in final.collect()}
    assert got == {"c1": 7, "c2": 2**40}
    # a bucket whose only file predates the widening still reads with the
    # manifest's type, alone and in the change feed
    old_only = [
        int(b) for b, loc in table.snapshot()["bucket_locations"].items()
        if loc == "commit-00000001"
    ]
    assert old_only
    part = table.read_internal(buckets=old_only)
    assert dict(part.dtypes)["score"] == "bigint"
    assert [r["score"] for r in part.collect()] == [7]
    assert dict(table.changes(None).dtypes)["score"] == "bigint"
    # and a narrow batch into the widened table still casts up cleanly
    table.merge(
        spark.createDataFrame(
            [("c3", 0, 9, "I", 3.0, 0, 300)],
            "conv_id string, turn_idx int, score int, _op string, "
            "_ts double, _file_seq int, _log_pos long",
        ),
        batch_id=3,
    )
    assert table.read().where("conv_id = 'c3'").first()["score"] == 9


def test_changes_across_column_addition(spark, tmp_path):
    """changes(from) where a commit in between added a column: the from
    side predates the column and reads it as NULL (with and without the
    before images)."""
    table = LakeTable(spark, str(tmp_path / "tbl"), buckets=4)
    base = "conv_id string, turn_idx int, role string, text string"
    version = "_op string, _ts double, _file_seq int, _log_pos long"
    table.merge(
        spark.createDataFrame(
            [("c1", 0, "user", "hi", "I", 1.0, 0, 1),
             ("c2", 0, "user", "yo", "I", 1.0, 0, 2)],
            f"{base}, {version}",
        ),
        batch_id=1,
    )
    s1 = table.snapshot()["snapshot_id"]
    table.merge(
        spark.createDataFrame(
            [("c1", 0, "user", "hi!", "x", "I", 2.0, 0, 3),
             ("c3", 0, "user", "new", "y", "I", 2.0, 0, 4),
             ("c2", 0, None, None, None, "D", 2.0, 0, 5)],
            f"{base}, extra string, {version}",
        ),
        batch_id=2,
    )
    got = {
        r["conv_id"]: (r["change_op"], r["text"], r["extra"])
        for r in table.changes(s1).collect()
    }
    assert got == {
        "c1": ("U", "hi!", "x"),
        "c3": ("I", "new", "y"),
        "c2": ("D", "yo", None),
    }
    before = {
        r["conv_id"]: (r["_before_text"], r["_before_extra"])
        for r in table.changes(s1, include_before=True).collect()
    }
    assert before == {"c1": ("hi", None), "c3": (None, None), "c2": ("yo", None)}
