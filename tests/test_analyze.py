"""ANALYZE TABLE statistics (lake/minilake.analyze — Puffin analog).

Claims: one aggregation pass stores per-column approx NDV + exact null
counts in the manifest, keyed by PHYSICAL name (rename-stable), with
the snapshot version they were computed at; the sketch stays within
tolerance of exact; a clone analyzes without touching its source."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import types as T

from etl_pipeline_spark.lake.minilake import MiniLakeTable
from etl_pipeline_spark.pipeline import ApplyConfig, apply_batch

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)
CFG = ApplyConfig(clean_cols=())


def _mk(spark, root, n=500):
    t = MiniLakeTable.create(
        spark, str(root), SCHEMA, key_cols=["conv_id", "turn_idx"],
        n_buckets=4, write_mode="mor",
    )
    rows = [
        (
            i, "I", f"c{i % 97}", i % 7,
            None if i % 10 == 0 else f"v{i % 211}",
            datetime.datetime(2026, 1, 1 + i % 28),
        )
        for i in range(1, n + 1)
    ]
    apply_batch(
        t,
        spark.createDataFrame(
            rows,
            "lsn long, op string, conv_id string, turn_idx int, "
            "text string, ts timestamp",
        ),
        0, CFG, stream_id="s",
    )
    return t


def test_analyze_stores_accurate_stats(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    state = t.read()
    v0 = t.current_version()
    v = t.analyze()
    assert v == v0 + 1  # metadata-only commit
    s = t.table_stats()
    assert s["computed_at_version"] == v0
    assert s["live_rows"] == state.count()
    import pyspark.sql.functions as F

    for c in ("conv_id", "turn_idx", "text", "ts"):
        exact_ndv = state.select(c).distinct().count()
        exact_nulls = state.filter(F.col(c).isNull()).count()
        got = s["columns"][c]
        assert got["nulls"] == exact_nulls, c  # null counts are EXACT
        assert abs(got["ndv"] - exact_ndv) <= max(1, 0.05 * exact_ndv), (
            c, got, exact_ndv,
        )
    # inspect_stats surfaces the same numbers
    rows = {r["column"]: r for r in t.inspect_stats().collect()}
    assert rows["text"]["nulls"] == s["columns"]["text"]["nulls"]
    assert rows["text"]["computed_at_version"] == v0


def test_stats_survive_rename(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=100)
    t.analyze()
    before = t.table_stats()["columns"]["text"]
    t.rename_column("text", "body")
    after = t.table_stats()["columns"]
    assert "text" not in after
    assert after["body"] == before  # physical key carried the numbers


def test_never_analyzed_and_validation(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=10)
    assert t.table_stats() is None
    assert t.inspect_stats().count() == 0
    with pytest.raises(ValueError, match="no column"):
        t.analyze(columns=["ghost"])


def test_subset_analyze_and_staleness(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=100)
    t.analyze(columns=["conv_id"])
    s = t.table_stats()
    assert set(s["columns"]) == {"conv_id"}
    stale_at = s["computed_at_version"]
    # new data makes the stats stale; the version gap says by how much
    apply_batch(
        t,
        spark.createDataFrame(
            [(1000, "I", "brand-new", 0, "x",
              datetime.datetime(2026, 2, 1))],
            "lsn long, op string, conv_id string, turn_idx int, "
            "text string, ts timestamp",
        ),
        1, CFG, stream_id="s",
    )
    assert t.current_version() > stale_at
    assert t.table_stats()["computed_at_version"] == stale_at


def test_incremental_analyze_tracks_ever_seen(spark, tmp_path):
    """Incremental HLL ANALYZE: fold-in of only the new commits must
    estimate the EVER-WRITTEN distinct count within sketch tolerance,
    never decrease on deletes/overwrites, and no-op when nothing new."""
    import pyspark.sql.functions as F

    t = _mk(spark, tmp_path / "t", n=400)
    v1 = t.analyze_incremental()
    s1 = t.sketch_stats()
    assert s1["since_version"] == v1 - 1
    exact1 = t.read().select("conv_id").distinct().count()
    got1 = s1["columns"]["conv_id"]["ndv_ever"]
    assert abs(got1 - exact1) <= max(2, 0.05 * exact1)
    # idempotent: nothing new to fold
    assert t.analyze_incremental() == t.current_version()
    # new batch with NEW conv_ids + deletes of old ones
    rows = [
        (1000 + i, "I", f"z{i}", i % 7, "new",
         datetime.datetime(2026, 2, 1)) for i in range(50)
    ] + [(2000, "D", "c1", 1 % 7, None, None)]
    apply_batch(
        t,
        spark.createDataFrame(
            rows,
            "lsn long, op string, conv_id string, turn_idx int, "
            "text string, ts timestamp",
        ),
        1, CFG, stream_id="s",
    )
    t.analyze_incremental()
    s2 = t.sketch_stats()
    got2 = s2["columns"]["conv_id"]["ndv_ever"]
    # ever-seen grew by the 50 new ids; the delete did NOT decrease it
    want2 = exact1 + 50
    assert abs(got2 - want2) <= max(3, 0.05 * want2)
    assert got2 >= got1
    # text nulls accumulated from the tombstone's null payload
    assert s2["columns"]["text"]["nulls"] >= s1["columns"]["text"]["nulls"]


def test_incremental_analyze_horizon_and_reset(spark, tmp_path):
    import pyspark.sql.functions as F

    t = _mk(spark, tmp_path / "t", n=100)
    t.analyze_incremental()
    with pytest.raises(ValueError, match="lg_k"):
        t.analyze_incremental(lg_k=14)
    # advance several commits then GC past the watermark
    for b in range(1, 4):
        apply_batch(
            t,
            spark.createDataFrame(
                [(1000 * b, "I", f"n{b}", 0, "x",
                  datetime.datetime(2026, 2, b))],
                "lsn long, op string, conv_id string, turn_idx int, "
                "text string, ts timestamp",
            ),
            b, CFG, stream_id="s",
        )
    t.expire_snapshots(keep_last=1, orphan_min_age_s=0)
    with pytest.raises(ValueError):
        t.analyze_incremental()  # watermark behind the horizon
    v = t.analyze_incremental(reset=True)  # re-seed from live state
    s = t.sketch_stats()
    exact = t.read().select("conv_id").distinct().count()
    assert abs(s["columns"]["conv_id"]["ndv_ever"] - exact) <= max(
        2, 0.05 * exact
    )
    assert v == t.current_version()
