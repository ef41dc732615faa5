"""Dead-letter fusion: on a MOR table, apply_batch must write dead
letters inside the merge's ONE delta-write Spark job (pseudo-bucket -1
relocated to the dead-letter sink) instead of re-scanning the source in
a second job — the r3 verdict's hot-path item. Covers: job count, DLQ
content fidelity (raw payload, original op), table-state purity, the
all-dead fence-only path, fenced replays not duplicating the DLQ, and a
batch fenced at its commit turn relocating no dead letters."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from test_spread import _count_nodes, _write_plan

from etl_pipeline_spark.lake.minilake import FENCES_PROP, MiniLakeTable
from etl_pipeline_spark.operators.validate import valid_predicate
from etl_pipeline_spark.pipeline import ApplyConfig, apply_batch
from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA

KEYS = ["conv_id", "turn_idx"]
SRC_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "ts timestamp, lsn long, op string"
)


def _mor_table(spark, tmp_path):
    return MiniLakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, key_cols=KEYS,
        n_buckets=8, write_mode="mor",
    )


def _batch(spark, tmp_path, rows, name="batch0"):
    """Round-trip through parquet so the batch arrives as a real file
    scan (the case where a second scan job would actually cost I/O)."""
    path = str(tmp_path / name)
    spark.createDataFrame(rows, SRC_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


MIXED_ROWS = [
    ("a", 0, "user", "  hello  ", None, 1, "I"),
    ("a", 1, "assistant", "world", None, 2, "I"),
    ("b", 0, "user", "v1", None, 3, "I"),
    ("b", 0, "user", "v2", None, 4, "U"),
    # dead: null key component — raw text must survive uncleaned
    (None, 0, "user", "  raw ws kept  ", None, 5, "I"),
    ("c", None, "user", "no turn", None, 6, "I"),
    # dead: junk op — original op string must be preserved
    ("d", 0, "user", "bad op", None, 7, "X"),
]


def _count_jobs(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fused_dead_letters_add_zero_jobs(spark, tmp_path):
    """Under AQE one write action legitimately runs as several stage
    jobs, so the invariant is relative: a batch WITH dead letters must
    cost exactly as many Spark jobs as the same-shaped batch without
    any — the legacy path paid one extra O(batch) re-scan job whenever
    a batch had ≥1 dead letter."""
    clean_rows = [r for r in MIXED_ROWS if r[0] is not None
                  and r[1] is not None and r[6] in ("I", "U", "D")]
    t_clean = MiniLakeTable.create(
        spark, str(tmp_path / "tc"), TRANSCRIPT_SCHEMA, key_cols=KEYS,
        n_buckets=8, write_mode="mor",
    )
    t_dirty = _mor_table(spark, tmp_path)
    b_clean = _batch(spark, tmp_path, clean_rows, "clean")
    b_dirty = _batch(spark, tmp_path, MIXED_ROWS, "dirty")
    n_clean = _count_jobs(
        spark, lambda: apply_batch(t_clean, b_clean, 0), "fuse-clean"
    )
    n_dirty = _count_jobs(
        spark, lambda: apply_batch(t_dirty, b_dirty, 0), "fuse-dirty"
    )
    assert n_dirty == n_clean, (
        f"dead letters must ride the merge job: clean={n_clean} "
        f"dirty={n_dirty}"
    )


def test_fused_state_and_dlq_content(spark, tmp_path):
    table = _mor_table(spark, tmp_path)
    batch = _batch(spark, tmp_path, MIXED_ROWS)
    apply_batch(table, batch, 0)

    # table state: valid rows only, LWW-resolved, cleaned
    state = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in table.read().collect()
    }
    assert state == {
        ("a", 0): "hello", ("a", 1): "world", ("b", 0): "v2",
    }

    # DLQ: all three dead rows, raw payload, original op preserved
    dlq_dir = os.path.join(table.root, "_deadletter", "batch-000000")
    dlq = spark.read.parquet(dlq_dir)
    rows = {r["_lsn"]: r for r in dlq.collect()}
    assert set(rows) == {5, 6, 7}
    assert rows[5]["text"] == "  raw ws kept  "  # NOT cleaned
    assert rows[5]["conv_id"] is None
    assert rows[7]["_src_op"] == "X"

    # lineage counters agree
    from etl_pipeline_spark.lake.lineage import LineageLog

    rec = LineageLog(table.root).records()[-1]
    assert rec["dead_lettered"] == 3
    assert rec["events_in"] == 7


def test_fused_all_dead_batch_advances_fence_and_keeps_rows(spark, tmp_path):
    table = _mor_table(spark, tmp_path)
    good = _batch(
        spark, tmp_path, [("a", 0, "user", "v1", None, 1, "I")], "good"
    )
    apply_batch(table, good, 0)
    v1 = table.current_version()
    all_dead = _batch(
        spark, tmp_path,
        [(None, 0, "user", "lost?", None, 10, "I"),
         (None, 1, "user", "lost2?", None, 11, "I")],
        "dead",
    )
    apply_batch(table, all_dead, 1)
    assert table.current_version() == v1 + 1  # fence-only commit
    # replay is fenced
    res = apply_batch(table, all_dead, 1)
    assert res.skipped
    # the dead rows were still captured before the fence-only commit
    dlq = spark.read.parquet(
        os.path.join(table.root, "_deadletter", "batch-000001")
    )
    assert dlq.count() == 2
    assert {r["text"] for r in dlq.collect()} == {"lost?", "lost2?"}
    # table data untouched
    assert {r["text"] for r in table.read().collect()} == {"v1"}


def test_fenced_replay_does_not_duplicate_dlq(spark, tmp_path):
    table = _mor_table(spark, tmp_path)
    batch = _batch(spark, tmp_path, MIXED_ROWS)
    apply_batch(table, batch, 0)
    apply_batch(table, batch, 0)  # fenced no-op
    dlq = spark.read.parquet(
        os.path.join(table.root, "_deadletter", "batch-000000")
    )
    assert dlq.count() == 3


@pytest.mark.parametrize("row_lineage", [False, True], ids=["lww", "lineage"])
def test_fused_merge_plan_single_scan_single_exchange(
    spark, tmp_path, row_lineage
):
    """The fused frame must plan as ONE scan + ONE exchange — the same
    shape as a clean batch. (A filter/union split design degrades to two
    scans: Catalyst pushes the validity filters below the repartition,
    so the two exchanges stop being reusable — measured, not
    hypothetical.) Checked on the write plan merge actually ran for a
    dirty batch into a 32-bucket table, with and without row lineage
    (whose fold adds a Window inside the same Exchange)."""
    table = MiniLakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, key_cols=KEYS,
        n_buckets=32, write_mode="mor", row_lineage=row_lineage,
    )
    assert table.supports_dead_letter_fusion
    apply_batch(table, _batch(spark, tmp_path, MIXED_ROWS), 0)
    assert os.path.isdir(
        os.path.join(table.root, "_deadletter", "batch-000000")
    )
    plan = _write_plan(spark, "commit")
    assert plan.count("Scan parquet") == 1, plan
    assert _count_nodes(plan, "Exchange") == 1, plan
    assert _count_nodes(plan, "Sort") == 1, plan
    assert "Union" not in plan, plan
    assert _count_nodes(plan, "Window") == (1 if row_lineage else 0), plan


@pytest.mark.parametrize("all_dead", [False, True], ids=["mixed", "all-dead"])
def test_merge_fenced_after_pre_commit_relocates_nothing(
    spark, tmp_path, all_dead
):
    """A fused merge whose batch another handle applies while it waits
    on ``pre_commit`` must come back fenced, leave no commit dir of its
    own behind and deliver no dead letters (the winner delivered them)."""
    table = _mor_table(spark, tmp_path)
    rows = (
        [r for r in MIXED_ROWS if r[0] is None or r[1] is None]
        if all_dead
        else MIXED_ROWS
    )
    batch = _batch(spark, tmp_path, rows).withColumn(
        "_v", F.coalesce(valid_predicate(KEYS, "op"), F.lit(False))
    )
    sink = str(tmp_path / "dlq")
    racer_sink = str(tmp_path / "dlq-racer")

    def racer_applies_first():
        won = MiniLakeTable(spark, table.root).merge(
            batch, batch_id=0, stream_id="s",
            valid_col="_v", dead_sink=racer_sink,
        )
        assert not won.skipped

    res = table.merge(
        batch, batch_id=0, stream_id="s", valid_col="_v", dead_sink=sink,
        pre_commit=racer_applies_first,
    )
    assert res.skipped and res.reason == "fenced"
    assert not os.path.exists(sink) or not os.listdir(sink)
    assert len(os.listdir(racer_sink)) > 0
    m = table.manifest()
    registered = {
        os.path.dirname(d) for ds in m["buckets"].values() for d in ds
    }
    on_disk = set(glob.glob(os.path.join(table.data_dir, "commit-*")))
    assert on_disk == registered, (on_disk, registered)
    assert m["properties"][FENCES_PROP] == {"s": 0}


def test_dlq_raw_forensics_and_null_lsn_distinctness(spark, tmp_path):
    """Dead rows carry the full pre-cast source row as _raw JSON, and
    two DISTINCT malformed events sharing null keys, op AND a null lsn
    must stay two DLQ rows (the fallback grouping key hashes _raw, not
    just keys+op — r4 advice)."""
    table = _mor_table(spark, tmp_path)
    rows = [
        ("a", 0, "user", "good", None, 1, "I"),
        (None, None, "user", "first malformed", None, None, None),
        (None, None, "user", "second malformed", None, None, None),
        # byte-identical duplicate delivery of the first -> collapses
        (None, None, "user", "first malformed", None, None, None),
    ]
    apply_batch(table, _batch(spark, tmp_path, rows), 0)
    dlq = spark.read.parquet(
        os.path.join(table.root, "_deadletter", "batch-000000")
    )
    got = dlq.collect()
    assert len(got) == 2, got  # distinct kept, identical collapsed
    texts = {r["text"] for r in got}
    assert texts == {"first malformed", "second malformed"}
    for r in got:
        assert r["_raw"] is not None and r["text"] in r["_raw"]
    # table state untouched by the malformed rows
    assert {r["text"] for r in table.read().collect()} == {"good"}


def test_legacy_dlq_writer_matches_fused_schema(spark, tmp_path):
    """The COW / salted path's separate DLQ write must emit the SAME
    physical schema as the fused pseudo-bucket files — one consumer
    frame over the whole _deadletter tree (r4 advice: two schemas in one
    directory)."""
    fused_t = _mor_table(spark, tmp_path)
    legacy_t = MiniLakeTable.create(
        spark, str(tmp_path / "t-cow"), TRANSCRIPT_SCHEMA, key_cols=KEYS,
        n_buckets=8, write_mode="cow",  # no fusion support -> legacy write
    )
    batch = _batch(spark, tmp_path, MIXED_ROWS)
    apply_batch(fused_t, batch, 0)
    apply_batch(legacy_t, batch, 0)

    fused = spark.read.parquet(
        os.path.join(fused_t.root, "_deadletter", "batch-000000")
    )
    legacy = spark.read.parquet(
        os.path.join(legacy_t.root, "_deadletter", "batch-000000")
    )
    assert sorted(fused.columns) == sorted(legacy.columns)
    f_types = {f.name: f.dataType for f in fused.schema.fields}
    l_types = {f.name: f.dataType for f in legacy.schema.fields}
    assert f_types == l_types

    # identical content where it matters: same dead rows either path
    cols = ["conv_id", "turn_idx", "text", "_lsn", "_src_op", "_deleted"]

    def _key(t):
        return tuple((x is None, x) for x in t)

    a = sorted(map(tuple, fused.select(cols).collect()), key=_key)
    b = sorted(map(tuple, legacy.select(cols).collect()), key=_key)
    assert a == b

    # and a single read over BOTH trees unions cleanly
    both = spark.read.parquet(
        os.path.join(fused_t.root, "_deadletter", "batch-000000"),
        os.path.join(legacy_t.root, "_deadletter", "batch-000000"),
    )
    assert both.count() == 6
