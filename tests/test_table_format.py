"""The transactional-table seam: the contract (sources/table_format.py),
driven against the parquet implementation — whose swap/CAS machinery
is the SAME VersionedParquetTables core the JobStore crash/replay
suite replays, so those scenarios verify this interface by
construction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rearview_spark.sources.table_format import (
    ConcurrentWriteError,
    ParquetTableFormat,
)


def test_parquet_format_read_append_overwrite_cas(spark, tmp_path):
    fmt = ParquetTableFormat(spark, str(tmp_path))
    schema = "id long, v string"
    assert fmt.current_version("t") == 0
    assert fmt.read("t", schema).count() == 0
    with pytest.raises(ValueError, match="no schema"):
        fmt.read("t")

    v1 = fmt.overwrite("t", spark.createDataFrame([(1, "a")], schema))
    assert v1 == 1 and fmt.current_version("t") == 1
    assert [tuple(r) for r in fmt.read("t", schema).collect()] == [(1, "a")]

    # CAS: a stale expected version refuses the swap
    with pytest.raises(ConcurrentWriteError):
        fmt.overwrite("t", spark.createDataFrame([(2, "b")], schema), expect_version=0)
    v2 = fmt.overwrite(
        "t", spark.createDataFrame([(2, "b")], schema), expect_version=1
    )
    assert v2 == 2

    # appends are additive and partition-able (the dedup-store shape)
    fmt.append("logs", spark.createDataFrame([(1, "x")], schema), partition_by=("v",))
    fmt.append("logs", spark.createDataFrame([(2, "x")], schema), partition_by=("v",))
    assert fmt.read("logs", schema).count() == 2


def test_parquet_format_merge_snapshot_replay_idempotent(spark, tmp_path):
    """The streaming SCD2 contract: batch N's merge sees history
    EXCLUDING any earlier attempt of batch N, so a replay commits
    identical state instead of compounding."""
    fmt = ParquetTableFormat(spark, str(tmp_path))
    schema = "k long, n long"

    def merge(history, updates):
        if history is None:
            return updates
        return (
            history.unionByName(updates)
            .groupBy("k")
            .agg(F.sum("n").alias("n"))
        )

    b0 = spark.createDataFrame([(1, 10), (2, 20)], schema)
    b1 = spark.createDataFrame([(1, 1)], schema)
    fmt.merge_snapshot("h", 0, b0, merge)
    fmt.merge_snapshot("h", 1, b1, merge)
    state = {r["k"]: r["n"] for r in spark.read.parquet(f"{tmp_path}/h/v=1").collect()}
    assert state == {1: 11, 2: 20}
    # replay batch 1 (at-least-once): history read is v=0, not v=1 —
    # the sum must NOT become 12
    fmt.merge_snapshot("h", 1, b1, merge)
    state = {r["k"]: r["n"] for r in spark.read.parquet(f"{tmp_path}/h/v=1").collect()}
    assert state == {1: 11, 2: 20}


def test_scd2_foreach_batch_routes_through_seam(spark, tmp_path):
    """The streaming SCD2 callback persists via merge_snapshot — same
    v=<batch> layout as before the seam, so existing readers and the
    stream_scd2_history gate see identical state."""
    import datetime as dt

    from rearview_spark.operators.scd import scd2_foreach_batch

    hist = str(tmp_path / "history")
    fb = scd2_foreach_batch(spark, hist, "k", ["status"], "eff")
    schema = "k long, status string, eff timestamp"
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    fb(spark.createDataFrame([(1, "new", t0)], schema), 0)
    fb(spark.createDataFrame([(1, "active", t1)], schema), 1)
    rows = sorted(
        (r["k"], r["status"], r["valid_from"], r["valid_to"])
        for r in spark.read.parquet(f"{hist}/v=1").collect()
    )
    assert rows == [(1, "active", t1, None), (1, "new", t0, t1)]
    # replayed batch: byte-identical state, not a re-closed row
    fb(spark.createDataFrame([(1, "active", t1)], schema), 1)
    rows2 = sorted(
        (r["k"], r["status"], r["valid_from"], r["valid_to"])
        for r in spark.read.parquet(f"{hist}/v=1").collect()
    )
    assert rows2 == rows

