"""Crash-orphan recovery at the CAS commit point (r4 ADVICE items).

A writer that dies between the ``O_EXCL`` manifest create (the durable
commit) and the ``CURRENT`` pointer rename leaves an orphan version file
that would otherwise block every later commit forever: ``manifest()``
keeps serving the stale base, ``_write_manifest`` keeps raising
``CommitConflict``, and the retry loops would spin. Recovery adopts a
COMPLETE orphan (the commit is durable — only the pointer is stale) and
surfaces a torn one as a clear bounded error instead of a livelock.

Every commit path goes through the same recovery: property writes land
on the adopted version, one-CAS writers (DDL) raise once and succeed on
their retry, and a torn file surfaces the same bounded error whichever
writer hits it.

Also pins compact()'s COW conflict policy: a racing merge REPLACES
bucket dirs on a copy-on-write table, so a compaction retry that kept
its stale fold next to the racer's replacement would duplicate rows with
no LWW resolve to hide it — it must raise, mirroring merge().
"""

from __future__ import annotations

import json
import os
import threading
import uuid

import pytest

from etl_pipeline_spark.lake.masking import set_masking_policy
from etl_pipeline_spark.lake.minilake import CommitConflict, MiniLakeTable
from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA

KEYS = ["conv_id", "turn_idx"]


def _src(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, lsn long, op string",
    )


def _table(spark, tmp_path, mode="mor"):
    t = MiniLakeTable.create(
        spark, str(tmp_path / f"t-{mode}"), TRANSCRIPT_SCHEMA,
        key_cols=KEYS, n_buckets=2, write_mode=mode,
    )
    t.merge(_src(spark, [("a", 0, "user", "v0", None, 1, "I")]), batch_id=0)
    return t


def _plant_valid_orphan(table) -> int:
    """Simulate a writer that died AFTER the manifest fsync, BEFORE the
    pointer rename: a complete v{cur+1} file exists, CURRENT lags."""
    base = table.manifest()
    orphan = dict(base)
    orphan["version"] = base["version"] + 1
    orphan["parent_snapshot_id"] = base["snapshot_id"]
    orphan["snapshot_id"] = str(uuid.uuid4())
    with open(table._manifest_path(orphan["version"]), "w") as f:
        json.dump(orphan, f)
    return orphan["version"]


def _bounded(fn, timeout_s=60.0):
    """Run ``fn`` in a thread and fail, rather than hang, if a commit
    retry loop never returns."""
    out: dict = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            out["error"] = e

    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(timeout_s)
    assert not th.is_alive(), f"commit still looping after {timeout_s}s"
    if "error" in out:
        raise out["error"]
    return out["value"]


PROPERTY_WRITES = {
    "analyze": lambda t: t.analyze(),
    "enable_row_lineage": lambda t: t.enable_row_lineage(),
    "set_masking_policy": lambda t: set_masking_policy(t, "text", "hash"),
}


@pytest.mark.parametrize("op", sorted(PROPERTY_WRITES))
def test_valid_orphan_unblocks_property_write(spark, tmp_path, op):
    table = _table(spark, tmp_path)
    orphan_v = _plant_valid_orphan(table)
    v = _bounded(lambda: PROPERTY_WRITES[op](table))
    assert v == orphan_v + 1 == table.current_version()


ONE_CAS_DDL = {
    "add_constraint": lambda t: t.add_constraint("turn_ok", "turn_idx >= 0"),
    "set_stats_columns": lambda t: t.set_stats_columns(["ts"]),
    "rename_column": lambda t: t.rename_column("role", "speaker"),
}


@pytest.mark.parametrize("op", sorted(ONE_CAS_DDL))
def test_valid_orphan_ddl_raises_once_then_lands(spark, tmp_path, op):
    """A one-CAS writer loses to the orphan and raises, but its conflict
    adopts the orphan, so the caller's retry lands on the next version."""
    table = _table(spark, tmp_path)
    orphan_v = _plant_valid_orphan(table)
    with pytest.raises(CommitConflict):
        ONE_CAS_DDL[op](table)
    assert table.current_version() == orphan_v
    assert ONE_CAS_DDL[op](table) == orphan_v + 1


TORN_PATHS = {
    "cow_merge": ("cow", lambda t, s: t.merge(
        _src(s, [("b", 0, "user", "v1", None, 2, "I")]), batch_id=1)),
    "fence_only": ("mor", lambda t, s: t.merge(
        _src(s, []).filter("1=0"), batch_id=1)),
    "property_write": ("mor", lambda t, s: t.enable_row_lineage()),
    "ddl": ("mor", lambda t, s: t.add_constraint("ok", "turn_idx >= 0")),
    "compact": ("mor", lambda t, s: t.compact(drop_tombstones=False)),
    "rescale": ("mor", lambda t, s: t.rescale_buckets(3)),
    "rollback": ("mor", lambda t, s: t.rollback(1)),
}


@pytest.mark.parametrize("path", sorted(TORN_PATHS))
def test_torn_orphan_bounded_error_on_every_path(spark, tmp_path, path):
    mode, op = TORN_PATHS[path]
    table = _table(spark, tmp_path, mode=mode)
    cur = table.current_version()
    with open(table._manifest_path(cur + 1), "w") as f:
        f.write('{"version": ')  # writer died mid-json.dump
    data_before = set(os.listdir(table.data_dir))
    with pytest.raises(CommitConflict, match="not a complete manifest"):
        _bounded(lambda: op(table, spark))
    assert table.current_version() == cur
    # the raise removed whatever data dir the losing commit wrote
    assert set(os.listdir(table.data_dir)) == data_before


def test_valid_orphan_is_adopted_and_commit_proceeds(spark, tmp_path):
    table = _table(spark, tmp_path)
    orphan_v = _plant_valid_orphan(table)
    assert table.current_version() == orphan_v - 1  # pointer is stale

    # a new merge conflicts on v{orphan}, adopts it, retries, lands
    res = table.merge(
        _src(spark, [("b", 0, "user", "v1", None, 2, "I")]), batch_id=1
    )
    assert not res.skipped
    assert res.version == orphan_v + 1
    assert table.current_version() == orphan_v + 1
    state = {r["conv_id"]: r["text"] for r in table.read().collect()}
    assert state == {"a": "v0", "b": "v1"}


def test_valid_orphan_unblocks_fence_only_commit(spark, tmp_path):
    table = _table(spark, tmp_path)
    orphan_v = _plant_valid_orphan(table)
    empty = _src(spark, []).filter("1=0")
    res = table.merge(empty, batch_id=1)  # fence-only path
    assert not res.skipped
    assert table.current_version() == orphan_v + 1


def test_torn_orphan_raises_bounded_error_not_livelock(spark, tmp_path):
    table = _table(spark, tmp_path)
    cur = table.current_version()
    torn = table._manifest_path(cur + 1)
    with open(torn, "w") as f:
        f.write('{"version": ')  # writer died mid-json.dump
    with pytest.raises(CommitConflict, match="torn|not a complete"):
        table.merge(
            _src(spark, [("b", 0, "user", "v1", None, 2, "I")]), batch_id=1
        )
    # the orphan was not adopted and the pointer never moved
    assert table.current_version() == cur
    # operator removes the torn file -> commits flow again
    os.remove(torn)
    res = table.merge(
        _src(spark, [("b", 0, "user", "v1", None, 2, "I")]), batch_id=1
    )
    assert not res.skipped


def test_compact_cow_conflict_raises_instead_of_duplicating(spark, tmp_path):
    """COW compaction losing its CAS must surface the conflict: its fold
    reflects bucket dirs a racing merge has since REPLACED."""
    table = _table(spark, tmp_path, mode="cow")
    racer = MiniLakeTable(spark, table.root)
    orig_write = table._write_manifest
    raced = []

    def write_with_race(manifest):
        if not raced:
            raced.append(True)
            racer.merge(
                _src(spark, [("a", 0, "user", "newer", None, 9, "U")]),
                batch_id=5,
            )
        orig_write(manifest)

    table._write_manifest = write_with_race
    try:
        with pytest.raises(CommitConflict):
            table.compact(drop_tombstones=False)
    finally:
        table._write_manifest = orig_write
    assert raced
    # the racer's update is intact and not duplicated by a stale fold
    rows = table.read().collect()
    assert [(r["conv_id"], r["text"]) for r in rows] == [("a", "newer")]
    # caller re-runs compaction on the fresh base and it lands cleanly
    v = table.compact(drop_tombstones=False)
    assert v == table.current_version()
    rows = table.read().collect()
    assert [(r["conv_id"], r["text"]) for r in rows] == [("a", "newer")]


def test_mor_compact_conflict_still_retries(spark, tmp_path):
    """The MOR retry (racers only append deltas; reads LWW-resolve) must
    keep working through the shared recovery path."""
    table = _table(spark, tmp_path)
    racer = MiniLakeTable(spark, table.root)
    orig_write = table._write_manifest
    raced = []

    def write_with_race(manifest):
        if not raced:
            raced.append(True)
            racer.merge(
                _src(spark, [("late", 0, "user", "late-v", None, 99, "I")]),
                batch_id=7,
            )
        orig_write(manifest)

    table._write_manifest = write_with_race
    try:
        table.compact(drop_tombstones=False)
    finally:
        table._write_manifest = orig_write
    assert raced
    state = {r["conv_id"]: r["text"] for r in table.read().collect()}
    assert state == {"a": "v0", "late": "late-v"}
