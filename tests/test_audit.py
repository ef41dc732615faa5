"""Table integrity audit (lake/audit.audit_table) — does the fsck
actually CATCH the corruption classes it claims? Each test seeds one
specific fault into an otherwise healthy table and asserts the audit
reports exactly that finding code (and a clean table reports none)."""

from __future__ import annotations

import datetime
import glob
import json
import os
import shutil

import pytest
from pyspark.sql import types as T

from etl_pipeline_spark.lake.audit import audit_table
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


def _mk(spark, root, n=60, compact=True):
    t = MiniLakeTable.create(
        spark, str(root), SCHEMA, key_cols=["conv_id", "turn_idx"],
        n_buckets=4, write_mode="mor",
    )
    rows = [
        (i, "I", f"c{i % 17}", i % 5, f"v{i}",
         datetime.datetime(2026, 1, 1 + i % 28))
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
    if compact:
        t.compact(drop_tombstones=True)
    return t


def _codes(report):
    return {f["code"] for f in report["findings"]}


def test_clean_table_is_clean_at_every_level(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    for level in ("metadata", "files", "data"):
        rep = audit_table(t, level=level)
        assert rep["ok"], rep
    assert audit_table(t, level="files")["checked"]["files"] > 0


def test_missing_dir_detected(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    victim = next(iter(t.manifest()["buckets"].values()))[0]
    shutil.rmtree(victim)
    rep = audit_table(t, level="metadata")
    assert not rep["ok"] and "dir-missing" in _codes(rep)


def test_row_count_drift_detected(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    # tamper the manifest's row count for one dir
    path = t._manifest_path(t.current_version())
    m = json.load(open(path))
    d = next(iter(m["file_stats"]))
    m["file_stats"][d]["rows"] += 5
    json.dump(m, open(path, "w"))
    rep = audit_table(t, level="files")
    assert "row-count-drift" in _codes(rep)


def test_deleted_file_detected_as_drift(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    d = next(iter(t.manifest()["file_stats"]))
    victim = sorted(glob.glob(os.path.join(d, "*.parquet")))[0]
    os.remove(victim)
    rep = audit_table(t, level="files")
    assert "row-count-drift" in _codes(rep) or (
        "key-bounds-drift" in _codes(rep)
    )


def test_broken_snapshot_chain_detected(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    path = t._manifest_path(t.current_version())
    m = json.load(open(path))
    m["parent_snapshot_id"] = "forged"
    json.dump(m, open(path, "w"))
    rep = audit_table(t, level="metadata")
    assert "snapshot-chain-broken" in _codes(rep)


def test_dangling_tag_detected(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.create_tag("pin", version=1)
    os.remove(t._manifest_path(1))
    rep = audit_table(t, level="metadata")
    assert "tag-dangling" in _codes(rep)


def test_mis_bucketed_rows_detected(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    m = t.manifest()
    buckets = sorted(m["buckets"].items(), key=lambda kv: int(kv[0]))
    assert len(buckets) >= 2
    # move one bucket's file into ANOTHER bucket's dir — every row in it
    # now hash-routes elsewhere
    src_dir, dst_dir = buckets[0][1][0], buckets[1][1][0]
    f = sorted(glob.glob(os.path.join(src_dir, "*.parquet")))[0]
    shutil.copy(f, os.path.join(dst_dir, "smuggled.parquet"))
    rep = audit_table(t, level="data")
    assert "mis-bucketed-rows" in _codes(rep)
    # the smuggled copy also duplicates keys in a resolved snapshot
    assert "duplicate-keys-in-resolved" in _codes(rep)


def test_stats_for_dead_dir_detected(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    path = t._manifest_path(t.current_version())
    m = json.load(open(path))
    d = next(iter(m["file_stats"]))
    m["file_stats"][d + "-ghost"] = m["file_stats"][d]
    json.dump(m, open(path, "w"))
    rep = audit_table(t, level="metadata")
    assert "stats-for-dead-dir" in _codes(rep)


def test_level_validation(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=5, compact=False)
    with pytest.raises(ValueError, match="level"):
        audit_table(t, level="everything")
