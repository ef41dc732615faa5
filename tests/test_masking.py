"""Read-time column masking policies: metadata-only commits, physical
keying (rename-proof, re-add-proof), version-pinned application, and
JVM-only mask expressions over the logical read."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from etl_pipeline_spark.lake.masking import (
    drop_masking_policy,
    drop_row_filter,
    masking_policies,
    read_masked,
    row_filter,
    set_masking_policy,
    set_row_filter,
)
from etl_pipeline_spark.lake.minilake import MiniLakeTable
from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA

KEYS = ["conv_id", "turn_idx"]


def _table(spark, tmp_path, name="t"):
    t = MiniLakeTable.create(
        spark, str(tmp_path / name), TRANSCRIPT_SCHEMA, key_cols=KEYS,
        n_buckets=4, write_mode="mor",
    )
    ev = spark.createDataFrame(
        [
            ("a", 0, "user", "mail me at bob@example.com", None, 1, "I"),
            ("a", 1, "assistant", "from 10.0.0.1 call +62-812-0001", None, 2, "I"),
            ("b", 0, "user", "clean text", None, 3, "I"),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, lsn long, op string",
    )
    t.merge(ev, batch_id=0)
    return t


def test_masks_apply_and_privileged_read_is_untouched(spark, tmp_path):
    t = _table(spark, tmp_path)
    set_masking_policy(t, "text", "redact_pii")
    set_masking_policy(t, "role", "hash")
    set_masking_policy(t, "ts", "null")

    masked = {
        (r["conv_id"], r["turn_idx"]): r
        for r in read_masked(t).collect()
    }
    assert masked[("a", 0)]["text"] == "mail me at <EMAIL>"
    assert masked[("a", 1)]["text"] == "from <IP> call <PHONE>"
    assert masked[("b", 0)]["text"] == "clean text"
    # hash mask is deterministic md5 and equality-preserving
    assert masked[("a", 0)]["role"] == masked[("b", 0)]["role"]
    assert masked[("a", 0)]["role"] != "user"
    assert len(masked[("a", 0)]["role"]) == 32
    assert all(r["ts"] is None for r in masked.values())

    # the privileged read still serves the raw values
    raw = {r["turn_idx"]: r for r in t.read().filter("conv_id='a'").collect()}
    assert "bob@example.com" in raw[0]["text"]
    assert raw[0]["role"] == "user"

    assert masking_policies(t) == {
        "text": "redact_pii", "role": "hash", "ts": "null",
    }


def test_policy_survives_rename_and_dies_with_drop(spark, tmp_path):
    t = _table(spark, tmp_path)
    set_masking_policy(t, "tool", "hash")
    t.rename_column("tool", "tool_name")
    # physical keying: the policy followed the rename
    assert masking_policies(t) == {"tool_name": "hash"}

    t.drop_column("tool_name")
    assert masking_policies(t) == {}
    # re-adding a same-named column mints a fresh physical name — the
    # orphaned policy must NOT rebind to it
    t.add_columns([T.StructField("tool_name", T.StringType(), True)])
    assert masking_policies(t) == {}
    assert "tool_name" in [f.name for f in t.schema().fields]


def test_time_travel_applies_current_policies_by_default(spark, tmp_path):
    """Pinning a pre-policy snapshot must NOT be a PII bypass: the
    default governed read applies the union of current and at-version
    policies; ``audit_replay=True`` opts into the historical view."""
    t = _table(spark, tmp_path)
    v_before = t.current_version()
    set_masking_policy(t, "text", "null")
    # default: the CURRENT policy reaches back to the pinned snapshot
    hist = read_masked(t, version=v_before).filter("conv_id='b'").first()
    assert hist["text"] is None
    # audit replay: exactly what a reader at v_before saw (no policy)
    audit = read_masked(
        t, version=v_before, audit_replay=True
    ).filter("conv_id='b'").first()
    assert audit["text"] == "clean text"
    # current read masks
    assert read_masked(t).filter("conv_id='b'").first()["text"] is None


def test_drop_policy_restores_plain_read(spark, tmp_path):
    t = _table(spark, tmp_path)
    set_masking_policy(t, "text", "null")
    drop_masking_policy(t, "text")
    assert masking_policies(t) == {}
    assert (
        read_masked(t).filter("conv_id='b'").first()["text"] == "clean text"
    )


def test_validation_errors(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="unknown mask kind"):
        set_masking_policy(t, "text", "rot13")
    with pytest.raises(ValueError, match="no column"):
        set_masking_policy(t, "nope", "hash")
    with pytest.raises(ValueError, match="redact_pii masks string"):
        set_masking_policy(t, "turn_idx", "redact_pii")


def test_row_filter_governs_reads_and_sees_raw_values(spark, tmp_path):
    t = _table(spark, tmp_path)
    set_row_filter(t, "role = 'user'")
    assert row_filter(t) == "role = 'user'"
    got = read_masked(t).collect()
    assert {(r["conv_id"], r["turn_idx"]) for r in got} == {
        ("a", 0), ("b", 0),
    }
    # the filter evaluates on RAW values even when the same column is
    # masked for this reader
    set_masking_policy(t, "role", "hash")
    got = read_masked(t).collect()
    assert {(r["conv_id"], r["turn_idx"]) for r in got} == {
        ("a", 0), ("b", 0),
    }
    assert all(len(r["role"]) == 32 for r in got)
    # privileged read ignores the filter
    assert t.read().count() == 3

    drop_row_filter(t)
    assert row_filter(t) is None
    assert read_masked(t).count() == 3


def test_row_filter_reaches_back_unless_audit_replay(spark, tmp_path):
    t = _table(spark, tmp_path)
    v_before = t.current_version()
    set_row_filter(t, "turn_idx = 0")
    # default: the current filter governs historical reads too
    assert read_masked(t, version=v_before).count() == 2
    # audit replay: the pinned snapshot had no filter
    assert read_masked(t, version=v_before, audit_replay=True).count() == 3
    assert read_masked(t).count() == 2
    with pytest.raises(ValueError, match="does not resolve"):
        set_row_filter(t, "no_such_col = 1")


def test_projected_governed_read_composes_with_row_filter(spark, tmp_path):
    """A governed reader may project AWAY the filter column: the filter
    still evaluates on the raw row (read full → filter → project),
    rather than failing analysis or silently not filtering."""
    t = _table(spark, tmp_path)
    set_row_filter(t, "turn_idx = 0")
    set_masking_policy(t, "text", "null")
    got = read_masked(t, columns=["conv_id", "text"]).collect()
    assert sorted((r["conv_id"], r["text"]) for r in got) == [
        ("a", None), ("b", None),
    ]
    # without a filter the projection passes straight through to the
    # pruned read path
    drop_row_filter(t)
    got = read_masked(t, columns=["conv_id"]).collect()
    assert sorted(r["conv_id"] for r in got) == ["a", "a", "b"]


def test_branch_read_resolves_policies_at_the_branch_base(spark, tmp_path):
    """A rename on main AFTER branching must not unbind the mask from
    the branch reader's view — policies resolve at the branch base,
    where physical keying still matches the served schema."""
    t = _table(spark, tmp_path)
    set_masking_policy(t, "text", "null")
    t.create_branch("audit")
    t.rename_column("text", "body")
    got = read_masked(t, branch="audit").collect()
    # branch view serves the base-schema name, masked
    assert all(r["text"] is None for r in got)
    # main's current view masks under the new name (physical keying)
    assert masking_policies(t) == {"body": "null"}
    assert all(r["body"] is None for r in read_masked(t).collect())


def test_policies_do_not_replicate_implicitly(spark, tmp_path):
    """Governance policies are TABLE metadata, not data: the CDC-out
    feed carries rows only, so a replica ingesting it serves RAW values
    until policies are re-bound on the replica itself. This pins the
    gap (same shape as the purge x replication procedure): replicating
    a governed table requires re-applying its policies downstream —
    masking_policies(primary) is the transferable spec."""
    from etl_pipeline_spark.lake.replicate import export_changes
    from etl_pipeline_spark.streaming.ingest import replay_files

    t = _table(spark, tmp_path)
    set_masking_policy(t, "text", "null")
    set_row_filter(t, "conv_id = 'a'")
    out = str(tmp_path / "export")
    export_changes(t, out)
    replica = MiniLakeTable.create(
        spark, str(tmp_path / "replica"), TRANSCRIPT_SCHEMA,
        key_cols=KEYS, n_buckets=4, write_mode="mor",
    )
    replay_files(spark, out, replica)
    # data replicated in full — policies did not
    assert replica.read().count() == t.read().count() == 3
    assert masking_policies(replica) == {}
    assert row_filter(replica) is None
    # the documented procedure: copy the primary's policy spec over
    for col, kind in masking_policies(t).items():
        set_masking_policy(replica, col, kind)
    set_row_filter(replica, row_filter(t))
    a = read_masked(t).collect()
    b = read_masked(replica).collect()
    assert sorted((r["conv_id"], r["turn_idx"], r["text"]) for r in a) == \
        sorted((r["conv_id"], r["turn_idx"], r["text"]) for r in b)


def test_masked_read_stays_jvm_side(spark, tmp_path):
    # no Python evaluation in the masked plan: the masks are Column
    # expressions, so the physical plan must be UDF-free
    t = _table(spark, tmp_path)
    set_masking_policy(t, "text", "redact_pii")
    set_masking_policy(t, "role", "hash")
    plan = read_masked(t)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_racing_policy_binds_both_survive(spark, tmp_path):
    """A policy commit that loses its CAS to another handle's policy
    commit rebuilds the policy map from the racer's snapshot: both
    columns end up masked."""
    t = _table(spark, tmp_path)
    racer = MiniLakeTable(spark, t.root)
    orig = t._write_manifest
    fired = []

    def hooked(manifest):
        if not fired:
            fired.append(True)
            set_masking_policy(racer, "role", "null")
        return orig(manifest)

    t._write_manifest = hooked
    try:
        set_masking_policy(t, "text", "redact_pii")
    finally:
        t._write_manifest = orig
    assert fired
    assert masking_policies(t) == {"role": "null", "text": "redact_pii"}
