"""Online bucket-count evolution (rescale_buckets): layout changes in one
snapshot commit while state, fences, tombstone semantics, time travel and
the change feed all survive — and racing writers detect the modulus
change instead of corrupting the new layout."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import types as T

from etl_pipeline_spark.lake.minilake import CommitConflict, MiniLakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)
KEYS = ["conv_id", "turn_idx"]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, lsn long, op string"
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_cols=KEYS,
        n_buckets=4, write_mode="mor",
    )
    t.merge(_batch(spark, [(f"c{i}", 0, f"v{i}", i + 1, "I") for i in range(40)]),
            batch_id=0)
    t.merge(_batch(spark, [("c3", 0, "v3b", 100, "U"), ("c5", 0, None, 101, "D")]),
            batch_id=1)
    return t


def _state(t):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"]) for r in t.read().collect()
    )


def test_rescale_preserves_state_fences_and_history(table):
    before = _state(table)
    v_pre = table.current_version()
    v = table.rescale_buckets(9)
    assert v == v_pre + 1
    m = table.manifest()
    assert m["n_buckets"] == 9
    assert set(m["buckets"]) <= {str(b) for b in range(9)}
    assert _state(table) == before
    # tombstones carried over (stale stragglers must still lose LWW)
    assert table.read_tombstones().count() == 1
    # fences carried over: re-delivering an applied batch is a no-op
    res = table.merge(
        _batch(table.spark, [("c3", 0, "OVERWRITE", 100, "U")]), batch_id=1
    )
    assert res.skipped and res.reason == "fenced"
    assert _state(table) == before
    # pre-rescale snapshots still read the OLD layout byte-identically
    assert sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in table.read(version=v_pre).collect()
    ) == before
    # idempotent no-op at the same count
    assert table.rescale_buckets(9) == v


def test_rescale_then_merge_lookup_and_stale_update(spark, table):
    table.rescale_buckets(9)
    # stale update below the tombstone's LSN can never resurrect the key
    table.merge(_batch(spark, [("c5", 0, "zombie", 50, "U")]), batch_id=2)
    assert table.read_for_keys(["c5"]).count() == 0
    # fresh merge lands in the new layout and point lookups prune there
    table.merge(_batch(spark, [("c3", 0, "v3c", 200, "U")]), batch_id=3)
    got = {r["conv_id"]: r["text"] for r in table.read_for_keys(["c3"]).collect()}
    assert got == {"c3": "v3c"}
    full = set(table.read().inputFiles())
    pruned = set(table.read_for_keys(["c3"]).inputFiles())
    assert pruned and pruned < full
    # compaction under the new layout folds cleanly
    table.compact(drop_tombstones=False)
    assert {r["conv_id"]: r["text"] for r in table.read_for_keys(["c3"]).collect()} \
        == {"c3": "v3c"}


def test_rescale_is_maintenance_not_changes(spark, table):
    v_pre = table.current_version()
    table.rescale_buckets(9)
    # the rewrite itself contributes NO rows to the CDC-out feed
    assert table.read_changes_since(v_pre).count() == 0
    # but post-rescale merges still feed it
    table.merge(_batch(spark, [("c9", 0, "v9b", 300, "U")]), batch_id=2)
    ch = table.read_changes_since(v_pre)
    assert [(r["conv_id"], r["_lsn"]) for r in ch.collect()] == [("c9", 300)]


def test_racing_merge_detects_rescale(spark, tmp_path, monkeypatch):
    """A merge whose CAS loses to a concurrent rescale must surface
    CommitConflict (its delta dirs are bucketed under the old modulus),
    never rebuild on the rescaled base or write n_buckets back."""
    root = str(tmp_path / "t")
    t = MiniLakeTable.create(
        spark, root, SCHEMA, key_cols=KEYS, n_buckets=4, write_mode="mor",
    )
    t.merge(_batch(spark, [("a", 0, "x", 1, "I"), ("b", 0, "y", 2, "I")]),
            batch_id=0)
    other = MiniLakeTable(spark, root)
    orig = MiniLakeTable._write_manifest
    fired = {}

    def sabotage(self, manifest):
        if not fired:
            fired["x"] = True
            other.rescale_buckets(7)  # commits between base-read and CAS
        return orig(self, manifest)

    commits_before = set(glob.glob(os.path.join(t.data_dir, "commit-*")))
    monkeypatch.setattr(MiniLakeTable, "_write_manifest", sabotage)
    with pytest.raises(CommitConflict, match="bucket layout changed"):
        t.merge(_batch(spark, [("a", 0, "x2", 10, "U")]), batch_id=1)
    monkeypatch.undo()
    # the raise drops the losing merge's commit dir (nothing leaks)
    assert set(glob.glob(os.path.join(t.data_dir, "commit-*"))) == (
        commits_before
    )
    # the caller's redo under the new layout converges exactly-once
    res = t.merge(_batch(spark, [("a", 0, "x2", 10, "U")]), batch_id=1)
    assert not res.skipped
    assert {r["conv_id"]: r["text"] for r in t.read().collect()} == {
        "a": "x2", "b": "y",
    }
    assert t.manifest()["n_buckets"] == 7


def test_pipelined_merge_detects_rescale_at_its_turn(spark, tmp_path):
    """A pipelined merge whose write job ran under the old layout must
    raise CommitConflict when a rescale commits while it waits on
    ``pre_commit`` (its deltas are bucketed under the old modulus), and
    drop its commit dir."""
    root = str(tmp_path / "t")
    t = MiniLakeTable.create(
        spark, root, SCHEMA, key_cols=KEYS, n_buckets=4, write_mode="mor",
    )
    t.merge(_batch(spark, [("a", 0, "x", 1, "I"), ("b", 0, "y", 2, "I")]),
            batch_id=0)
    commits_before = set(glob.glob(os.path.join(t.data_dir, "commit-*")))
    with pytest.raises(CommitConflict, match="bucket layout changed"):
        t.merge(
            _batch(spark, [("a", 0, "x2", 10, "U")]), batch_id=1,
            pre_commit=lambda: MiniLakeTable(spark, root).rescale_buckets(7),
        )
    assert set(glob.glob(os.path.join(t.data_dir, "commit-*"))) == (
        commits_before
    )
    assert t.manifest()["n_buckets"] == 7
    assert {r["conv_id"]: r["text"] for r in t.read().collect()} == {
        "a": "x", "b": "y",
    }


def test_racing_rescale_loses_cleanly(spark, tmp_path, monkeypatch):
    """A rescale whose CAS loses to a concurrent merge abandons its
    rewrite (no partial layout ever becomes visible) and re-raises."""
    root = str(tmp_path / "t")
    t = MiniLakeTable.create(
        spark, root, SCHEMA, key_cols=KEYS, n_buckets=4, write_mode="mor",
    )
    t.merge(_batch(spark, [("a", 0, "x", 1, "I")]), batch_id=0)
    other = MiniLakeTable(spark, root)
    orig = MiniLakeTable._write_manifest
    fired = {}

    def sabotage(self, manifest):
        if not fired:
            fired["x"] = True
            other.merge(_batch(spark, [("b", 0, "y", 2, "I")]), batch_id=1)
        return orig(self, manifest)

    monkeypatch.setattr(MiniLakeTable, "_write_manifest", sabotage)
    with pytest.raises(CommitConflict):
        t.rescale_buckets(8)
    monkeypatch.undo()
    m = t.manifest()
    assert m["n_buckets"] == 4  # old layout intact, racer's merge applied
    assert {r["conv_id"] for r in t.read().collect()} == {"a", "b"}
    # the abandoned rewrite left no dir behind
    assert not [d for d in os.listdir(t.data_dir) if d.startswith("rescale-")]
    # a clean retry succeeds
    t.rescale_buckets(8)
    assert t.manifest()["n_buckets"] == 8
    assert {r["conv_id"] for r in t.read().collect()} == {"a", "b"}


def test_rescale_records_declared_stats_column_bounds(spark, tmp_path):
    """A rescale's output carries per-file bounds for the declared stats
    columns, like compaction's, so range scans keep pruning per file."""
    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_cols=KEYS,
        n_buckets=2, write_mode="mor",
    )
    t.merge(
        _batch(spark, [(f"c{i}", i, f"v{i}", i + 1, "I") for i in range(40)]),
        batch_id=0,
    )
    t.set_stats_columns(["turn_idx"])
    t.compact()
    t.rescale_buckets(4)
    m = t.manifest()
    files = [
        fb
        for ds in m["buckets"].values()
        for d in ds
        for fb in m["file_stats"][d]["files"].values()
    ]
    assert files and all("turn_idx" in fb for fb in files)
    plan = t.plan_range_scan("turn_idx", 0, 0)
    assert plan["mode"] == "file"
    assert plan["files_planned"] < plan["files_total"], plan
    got = sorted(r["conv_id"] for r in t.read_range("turn_idx", 0, 0).collect())
    assert got == ["c0"]
