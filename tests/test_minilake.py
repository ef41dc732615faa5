"""MiniLake table semantics: atomic commits, fencing, tombstones,
bucket pruning, schema evolution, time travel, compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_spark.lake.minilake import (
    CommitConflict,
    FENCES_PROP,
    MiniLakeTable,
)
from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA_V0

KEYS = ["conv_id", "turn_idx"]


def _table(spark, tmp_path, n_buckets=8):
    return MiniLakeTable.create(
        spark,
        str(tmp_path / "t"),
        TRANSCRIPT_SCHEMA_V0,
        key_cols=KEYS,
        n_buckets=n_buckets,
    )


def _src(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, lsn long, op string",
    )


def test_create_and_empty_read(spark, tmp_path):
    t = _table(spark, tmp_path)
    assert t.read().count() == 0
    assert t.current_version() == 1
    assert t.snapshot_props()[FENCES_PROP] == {}


def test_merge_insert_update_delete(spark, tmp_path):
    t = _table(spark, tmp_path)
    r1 = t.merge(
        _src(spark, [("a", 0, "user", "hello", None, 1, "I"),
                     ("a", 1, "assistant", "hi", None, 2, "I")]),
        batch_id=0,
    )
    assert not r1.skipped and r1.rows_upserted == 2
    r2 = t.merge(
        _src(spark, [("a", 0, "user", "hello v2", None, 3, "U"),
                     ("a", 1, None, None, None, 4, "D")]),
        batch_id=1,
    )
    assert not r2.skipped
    state = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()}
    assert state == {("a", 0): "hello v2"}
    # tombstone retained physically
    phys = t.read_physical().filter(F.col("_deleted")).collect()
    assert len(phys) == 1 and phys[0]["turn_idx"] == 1


def test_fencing_skips_replayed_batch(spark, tmp_path):
    t = _table(spark, tmp_path)
    src = _src(spark, [("a", 0, "user", "v1", None, 1, "I")])
    t.merge(src, batch_id=0)
    v = t.current_version()
    res = t.merge(
        _src(spark, [("a", 0, "user", "OVERWRITE", None, 99, "U")]), batch_id=0
    )
    assert res.skipped
    assert t.current_version() == v
    assert t.read().collect()[0]["text"] == "v1"


def test_stale_update_cannot_resurrect_tombstone(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [("a", 0, "user", "v1", None, 50, "I")]), batch_id=0)
    t.merge(_src(spark, [("a", 0, None, None, None, 100, "D")]), batch_id=1)
    # stale update with lower LSN arrives in a later batch
    t.merge(_src(spark, [("a", 0, "user", "zombie", None, 90, "U")]), batch_id=2)
    assert t.read().count() == 0


def test_bucket_pruning_touches_only_affected_buckets(spark, tmp_path):
    t = _table(spark, tmp_path, n_buckets=16)
    rows = [(f"c{i}", 0, "user", f"t{i}", None, i + 1, "I") for i in range(200)]
    t.merge(_src(spark, rows), batch_id=0)
    m0 = t.manifest()
    # single-key batch → merge must rewrite exactly 1 bucket
    res = t.merge(
        _src(spark, [("c7", 0, "user", "updated", None, 1000, "U")]), batch_id=1
    )
    assert res.buckets_touched == 1
    m1 = t.manifest()
    changed = [
        b for b in m1["buckets"] if m1["buckets"][b] != m0["buckets"].get(b)
    ]
    assert len(changed) == 1
    state = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert state["c7"] == "updated" and state["c3"] == "t3"
    assert len(state) == 200


def test_additive_schema_evolution(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [("a", 0, "user", "pre", None, 1, "I")]), batch_id=0)
    t.add_columns([T.StructField("tool", T.StringType(), True)])
    assert "tool" in [f.name for f in t.schema().fields]
    # pre-evolution rows read tool as NULL (schema projection, no rewrite)
    row = t.read().collect()[0]
    assert row["tool"] is None
    # post-evolution merge carries the new column
    src = spark.createDataFrame(
        [("b", 0, "assistant", "post", "search", None, 2, "I")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, lsn long, op string",
    )
    t.merge(src, batch_id=1)
    state = {r["conv_id"]: r["tool"] for r in t.read().collect()}
    assert state == {"a": None, "b": "search"}
    # non-additive rejected
    with pytest.raises(ValueError):
        t.add_columns([T.StructField("text", T.StringType(), True)])


def test_commit_conflict_cas(spark, tmp_path):
    t = _table(spark, tmp_path)
    m = t.manifest()
    m2 = dict(m)
    m2["version"] = m["version"] + 1
    t._write_manifest(m2)
    m3 = dict(m)
    m3["version"] = m["version"] + 1
    with pytest.raises(CommitConflict):
        t._write_manifest(m3)


def test_time_travel_and_compact(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [("a", 0, "user", "v1", None, 1, "I")]), batch_id=0)
    v_after_first = t.current_version()
    t.merge(_src(spark, [("a", 0, None, None, None, 2, "D")]), batch_id=1)
    assert t.read().count() == 0
    assert t.read(version=v_after_first).count() == 1  # time travel
    t.compact(drop_tombstones=True)
    assert t.read_physical().count() == 0
    assert t.read().count() == 0
    assert len(t.history()) >= 4


def test_merge_source_uniqueness_assert(spark, tmp_path):
    t = _table(spark, tmp_path)
    dup = _src(
        spark,
        [("a", 0, "user", "x", None, 1, "I"), ("a", 0, "user", "y", None, 2, "U")],
    )
    with pytest.raises(ValueError):
        t.merge(dup, batch_id=0, assert_unique_keys=True)


def test_rollback_restores_state_and_fences(spark, tmp_path):
    """rollback() commits a NEW snapshot with the old content: state and
    exactly-once fences roll back together, history stays linear, and
    re-applying the rolled-back batch converges to the same final state."""
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [("c1", 1, "user", "v1", None, 10, "I")]), batch_id=0)
    v_after_0 = t.current_version()
    t.merge(_src(spark, [("c1", 1, "user", "v2", None, 20, "U")]), batch_id=1)
    assert [r["text"] for r in t.read().collect()] == ["v2"]

    new_v = t.rollback(v_after_0)
    assert new_v == t.current_version() > v_after_0  # history is linear
    assert [r["text"] for r in t.read().collect()] == ["v1"]
    # fences rolled back with the snapshot → batch 1 is NOT fenced out
    assert t.snapshot_props()[FENCES_PROP]["default"] == 0
    # the rolled-back-over snapshot stays time-travelable
    assert [r["text"] for r in t.read(version=v_after_0 + 1).collect()] == ["v2"]

    t.merge(_src(spark, [("c1", 1, "user", "v2", None, 20, "U")]), batch_id=1)
    assert [r["text"] for r in t.read().collect()] == ["v2"]


def test_rollback_rejects_bad_targets(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge(_src(spark, [("c1", 1, "u", "x", None, 1, "I")]), batch_id=0)
    with pytest.raises(ValueError, match="not older"):
        t.rollback(t.current_version())
    with pytest.raises(ValueError, match="no snapshot"):
        t.rollback(99)


def test_file_stats_recorded_and_prune_point_lookups(spark, tmp_path):
    """Merges record per-dir key/_lsn bounds (Parquet-footer-derived,
    Iceberg-manifest analog) and read_for_keys uses them as a second
    pruning tier below bucket selection: delta dirs whose key range
    cannot contain a requested key are skipped, and the pruned read
    still returns exactly the right rows."""
    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA_V0, key_cols=KEYS,
        n_buckets=1, write_mode="mor",  # one bucket → stats do the pruning
    )
    # two batches with disjoint key ranges in the same bucket
    t.merge(_src(spark, [("aaa", 0, "u", "a0", None, 1, "I"),
                         ("abb", 0, "u", "a1", None, 2, "I")]), batch_id=0)
    t.merge(_src(spark, [("zzz", 0, "u", "z0", None, 3, "I"),
                         ("zyy", 0, "u", "z1", None, 4, "I")]), batch_id=1)
    m = t.manifest()
    all_dirs = [d for ds in m["buckets"].values() for d in ds]
    assert len(all_dirs) == 2
    stats = m.get("file_stats", {})
    assert set(stats) == set(all_dirs)
    for d, s in stats.items():
        assert s["key_min"] <= s["key_max"]
        assert s["lsn_min"] <= s["lsn_max"]
        assert s["rows"] == 2

    # the helper-level pruning decision: a key in [aaa, abb] must keep
    # only the first delta dir
    lo_dir = min(stats, key=lambda d: stats[d]["key_min"])
    hi_dir = max(stats, key=lambda d: stats[d]["key_min"])
    assert stats[lo_dir]["key_max"] < stats[hi_dir]["key_min"]

    got = {r["conv_id"]: r["text"] for r in t.read_for_keys(["abb"]).collect()}
    assert got == {"abb": "a1"}
    got2 = {r["conv_id"]: r["text"]
            for r in t.read_for_keys(["zyy", "aaa"]).collect()}
    assert got2 == {"zyy": "z1", "aaa": "a0"}


def test_file_stats_survive_compaction_and_trim(spark, tmp_path):
    """Compaction refreshes bounds for rewritten dirs and trims entries
    for folded-away dirs — file_stats always tracks the live file set."""
    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA_V0, key_cols=KEYS,
        n_buckets=2, write_mode="mor",
    )
    for i in range(4):
        t.merge(
            _src(spark, [(f"c{i}", 0, "u", f"v{i}", None, i + 1, "I")]),
            batch_id=i,
        )
    t.compact(drop_tombstones=False)
    m = t.manifest()
    live = {d for ds in m["buckets"].values() for d in ds}
    stats = m.get("file_stats", {})
    assert set(stats) == live  # trimmed to exactly the live dirs
    total = sum(s["rows"] for s in stats.values())
    assert total == 4
    # lookups still correct through the compacted layout
    assert [r["text"] for r in t.read_for_keys(["c2"]).collect()] == ["v2"]


def test_compaction_output_is_key_sorted(spark, tmp_path):
    """Compacted files are sorted by the primary key within each bucket
    — tight per-row-group key bounds for point-lookup pruning (deltas
    stay unsorted; they are short-lived)."""
    import glob as _glob
    import os as _os

    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA_V0, key_cols=KEYS,
        n_buckets=2, write_mode="mor",
    )
    rows = [(f"c{i:03d}", 0, "u", f"v{i}", None, i + 1, "I")
            for i in range(300)]
    t.merge(_src(spark, rows), batch_id=0)
    t.compact(drop_tombstones=False)
    files = _glob.glob(
        _os.path.join(t.data_dir, "compact-*", "_bucket=*", "*.parquet")
    )
    assert files
    for f in files:
        vals = [r["conv_id"] for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals)


def test_reads_past_retention_horizon_fail_clearly(spark, tmp_path):
    """Incremental/time-travel reads older than the retention horizon
    must fail with a clear error naming the earliest retained snapshot,
    not a raw FileNotFoundError."""
    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA_V0, key_cols=KEYS,
        n_buckets=2, write_mode="mor",
    )
    for i in range(6):
        t.merge(
            _src(spark, [(f"k{i}", 0, "u", f"v{i}", None, i + 1, "I")]),
            batch_id=i,
        )
    t.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="retention"):
        t.read_changes_since(1)
    with pytest.raises(ValueError, match="retention"):
        t.read(version=2)
    # current state survives GC untouched
    assert t.read().count() == 6


def test_metadata_tables_describe_the_data(spark, tmp_path):
    """inspect_files / inspect_snapshots (Iceberg `table.files` /
    `table.snapshots` analogs): the manifest graph surfaced as
    DataFrames must agree with the data it describes — row counts after
    a tombstone-keeping compaction equal the per-key LWW winners, and
    the snapshot history carries the commit lineage."""
    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA_V0, key_cols=KEYS,
        n_buckets=4, write_mode="mor",
    )
    t.merge(
        _src(spark, [
            ("a", 0, "user", "a0", None, 1, "I"),
            ("b", 0, "user", "b0", None, 2, "I"),
            ("c", 0, "user", "c0", None, 3, "I"),
        ]),
        batch_id=0,
    )
    t.merge(
        _src(spark, [
            ("a", 0, "user", "a1", None, 10, "U"),
            ("c", 0, None, None, None, 11, "D"),
        ]),
        batch_id=1,
    )
    # pre-compaction: delta files hold more rows than keys
    assert (
        t.inspect_files().agg(F.sum("rows")).first()[0] == 5
    )
    t.compact(drop_tombstones=False)
    fi = t.inspect_files()
    # exactly one physical row per key ever seen (live or tombstone)
    assert fi.agg(F.sum("rows")).first()[0] == 3
    # bounds exist for compaction output and bracket the actual keys
    row = fi.filter(F.col("rows") > 0).first()
    assert row["key_min"] <= row["key_max"]
    assert row["lsn_min"] >= 1 and row["lsn_max"] <= 11
    snaps = t.inspect_snapshots().orderBy("version").collect()
    assert [s["version"] for s in snaps] == [1, 2, 3, 4]
    # parent chain is intact
    by_id = {s["snapshot_id"]: s for s in snaps}
    for s in snaps[1:]:
        assert s["parent_snapshot_id"] in by_id
    # stats carry their scope label so a reader knows what they cover
    assert all(
        s["stats_scope"] in (None, "mor_delta", "full",
                             "touched_buckets_only")
        for s in snaps
    )
    # write stats describe their own commit: the compaction snapshot
    # reports none rather than repeating the last merge's
    assert snaps[2]["stats_scope"] == "mor_delta"
    assert snaps[3]["stats_scope"] is None
    assert snaps[3]["live_rows"] is None
    # rollback provenance belongs to the rollback snapshot only
    v_rb = t.rollback(2)
    assert t.manifest(v_rb)["rolled_back_from"]["version"] == 2
    t.add_constraint("turn_ok", "turn_idx >= 0")
    assert "rolled_back_from" not in t.manifest()


def test_compact_splits_oversized_buckets_into_key_disjoint_files(
    spark, tmp_path
):
    """Write parallelism decoupled from bucket count: a bucket holding
    more rows than target_rows_per_file folds into SEVERAL key-disjoint
    files (range split), state is unchanged, per-bucket manifest stats
    still cover the whole dir, and point lookups still prune."""
    import os

    import pyarrow.parquet as pq

    t = _table(spark, tmp_path, n_buckets=2)
    rows = [
        (f"c{i:04d}", 0, "user", f"m{i}", None, i + 1, "I")
        for i in range(400)
    ]
    t.merge(_src(spark, rows), batch_id=0)
    before = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()
    }
    t.compact(target_rows_per_file=50)
    m = t.manifest()
    per_bucket_files = {
        b: [
            f
            for d in ds
            for f in os.listdir(d)
            if f.endswith(".parquet")
        ]
        for b, ds in m["buckets"].items()
    }
    # ~200 rows/bucket at 50 rows/file → every bucket splits
    assert all(len(fs) > 1 for fs in per_bucket_files.values())
    # files within a bucket dir are KEY-DISJOINT (range, not hash split)
    for b, ds in m["buckets"].items():
        spans = []
        for d in ds:
            for f in sorted(os.listdir(d)):
                if not f.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(d, f))
                names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                ki = names.index("conv_id")
                mins = min(
                    md.row_group(g).column(ki).statistics.min
                    for g in range(md.num_row_groups)
                )
                maxs = max(
                    md.row_group(g).column(ki).statistics.max
                    for g in range(md.num_row_groups)
                )
                spans.append((mins, maxs))
        spans.sort()
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            assert hi <= lo
    # state unchanged; stats cover the dirs; point lookup still works
    after = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()
    }
    assert after == before
    assert sum(
        s["rows"] for s in m["file_stats"].values()
    ) == len(rows)
    got = t.read_for_keys(["c0123"]).collect()
    assert len(got) == 1 and got[0]["text"] == "m123"
