"""Row-level DML: DELETE FROM / UPDATE SET as first-class table ops.

`delete_where` / `update_where` synthesize tombstone / full-row update
events one LSN above the table's high-water and apply them through the
normal fenced MERGE — so they are snapshot-committed, CDC-visible
(read_changes_since serves them), constraint-checked, and replayable
like any stream batch. A concurrent tail event with a HIGHER lsn beats
the DML (the stream stays the source of truth); compaction with
drop_tombstones physically erases deleted rows — the GDPR pairing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_spark.lake.minilake import (
    MAX_LSN_PROP,
    ConstraintViolation,
    MiniLakeTable,
)
from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA_V0

KEYS = ["conv_id", "turn_idx"]


def _seeded(spark, tmp_path, name="t"):
    t = MiniLakeTable.create(
        spark,
        str(tmp_path / name),
        TRANSCRIPT_SCHEMA_V0,
        key_cols=KEYS,
        n_buckets=4,
        write_mode="mor",
    )
    t.merge(
        spark.createDataFrame(
            [
                ("a", 0, "user", "hello", None, 10, "I"),
                ("a", 1, "assistant", "hi there", None, 11, "I"),
                ("b", 0, "user", "spam spam", None, 12, "I"),
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "ts timestamp, lsn long, op string",
        ),
        batch_id=0,
    )
    return t


def test_delete_where_tombstones_and_cdc_out(spark, tmp_path):
    t = _seeded(spark, tmp_path)
    v = t.current_version()
    res = t.delete_where("text LIKE '%spam%'")
    assert not res.skipped
    state = {(r["conv_id"], r["turn_idx"]) for r in t.read().collect()}
    assert state == {("a", 0), ("a", 1)}
    # the delete is a CDC event downstream consumers see
    ch = t.read_changes_since(v).collect()
    assert len(ch) == 1 and ch[0]["_deleted"] and ch[0]["conv_id"] == "b"
    # tombstone beats the old row but loses to a LATER stream event
    dml_lsn = ch[0]["_lsn"]
    t.merge(
        spark.createDataFrame(
            [("b", 0, "user", "reborn", None, dml_lsn + 5, "I")],
            "conv_id string, turn_idx int, role string, text string, "
            "ts timestamp, lsn long, op string",
        ),
        batch_id=99,
    )
    got = {r["conv_id"]: r["text"] for r in t.read().collect() if r["conv_id"] == "b"}
    assert got == {"b": "reborn"}


def test_delete_then_compact_physically_erases(spark, tmp_path):
    t = _seeded(spark, tmp_path, name="gdpr")
    t.delete_where("conv_id = 'a'")
    t.compact(drop_tombstones=True)
    t2 = MiniLakeTable(spark, t.root)
    assert {r["conv_id"] for r in t2.read().collect()} == {"b"}
    # no trace in the live files, not just the view
    assert t2.read_physical().filter(F.col("conv_id") == "a").count() == 0


def test_update_where_applies_expressions(spark, tmp_path):
    t = _seeded(spark, tmp_path, name="upd")
    res = t.update_where(
        "role = 'user'",
        {"text": "upper(text)", "role": "'redacted-user'"},
    )
    assert not res.skipped
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"])
        for r in t.read().collect()
    }
    assert got == {
        ("a", 0): ("redacted-user", "HELLO"),
        ("a", 1): ("assistant", "hi there"),
        ("b", 0): ("redacted-user", "SPAM SPAM"),
    }
    # two DMLs in a row stay fenced + ordered (batch_id = version)
    t.delete_where("role = 'redacted-user'")
    assert {r["conv_id"] for r in t.read().collect()} == {"a"}


def test_update_where_validation_and_constraints(spark, tmp_path):
    t = _seeded(spark, tmp_path, name="updv")
    with pytest.raises(ValueError, match="key column"):
        t.update_where("true", {"conv_id": "'x'"})
    with pytest.raises(ValueError, match="no column"):
        t.update_where("true", {"ghost": "'x'"})
    # a fail-mode constraint judges the UPDATED rows
    t.add_constraint("short_text", "length(text) <= 10")
    with pytest.raises(ConstraintViolation, match="short_text"):
        t.update_where("conv_id = 'b'", {"text": "repeat('x', 99)"})
    # state untouched by the aborted update
    got = {r["conv_id"]: r["text"] for r in t.read().collect() if r["conv_id"] == "b"}
    assert got == {"b": "spam spam"}


def test_delete_where_no_matches_is_clean_noop(spark, tmp_path):
    t = _seeded(spark, tmp_path, name="noop")
    v = t.current_version()
    t.delete_where("conv_id = 'zzz'")
    assert t.read().count() == 3
    # an empty DML batch must not corrupt fences for the next one
    t.delete_where("conv_id = 'b'")
    assert t.read().count() == 2
    assert t.current_version() > v


def test_lsn_zero_batch_sets_the_dml_high_water(spark, tmp_path):
    """A batch whose highest LSN is 0 records max-lsn 0, not "no LSN":
    the next DML then writes at LSN 1 and beats the row it targets
    instead of tying with it."""
    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA_V0, key_cols=KEYS,
        n_buckets=2, write_mode="mor",
    )
    t.merge(
        spark.createDataFrame(
            [("a", 0, "user", "hello", None, 0, "I")],
            "conv_id string, turn_idx int, role string, text string, "
            "ts timestamp, lsn long, op string",
        ),
        batch_id=0,
    )
    assert t.snapshot_props()[MAX_LSN_PROP] == 0
    t.delete_where("conv_id = 'a'")
    assert t.read().count() == 0
