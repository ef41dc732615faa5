"""Table-level CHECK constraints (Delta ADD CONSTRAINT analog).

Constraints live in the manifest (DDL snapshots, metadata-only), judge
the CAST values of every merge batch, exempt tombstones, and follow
ANSI CHECK null semantics (a NULL verdict passes). mode='fail' aborts
the batch with ConstraintViolation before any file is written;
mode='dead_letter' diverts violating rows to the dead-letter queue
inside the same fused delta-write job (MOR+lww pipeline path), tagging
``_src_op`` with the failed constraint names — and hardens to fail on
merges that have no dead-letter sink to route to. Renaming or dropping
a column a constraint references fails the DDL instead of orphaning
the expression.

The reference's only invariants are hard-coded row filters
(/root/reference/utils/transform.py:112-129); this is that idea as
user-declared, snapshot-versioned table metadata.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_spark.lake.minilake import (
    ConstraintViolation,
    MiniLakeTable,
)
from etl_pipeline_spark.pipeline import ApplyConfig, apply_batch
from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA_V0

KEYS = ["conv_id", "turn_idx"]


def _table(spark, tmp_path, name="t"):
    return MiniLakeTable.create(
        spark,
        str(tmp_path / name),
        TRANSCRIPT_SCHEMA_V0,
        key_cols=KEYS,
        n_buckets=4,
        write_mode="mor",
    )


def _src(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, lsn long, op string",
    )


def test_fail_mode_aborts_batch_before_any_write(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.add_constraint("role_known", "role IN ('user','assistant','system')")
    v = t.current_version()
    with pytest.raises(ConstraintViolation, match="role_known"):
        t.merge(
            _src(spark, [
                ("a", 0, "user", "ok", None, 1, "I"),
                ("b", 0, "gremlin", "bad", None, 2, "I"),
            ]),
            batch_id=0,
        )
    # nothing committed, nothing written
    assert t.current_version() == v
    assert t.read().count() == 0
    # a clean batch passes; a tombstone with null payload is exempt
    t.merge(
        _src(spark, [
            ("a", 0, "user", "ok", None, 3, "I"),
            ("z", 0, None, None, None, 4, "D"),
        ]),
        batch_id=1,
    )
    assert t.read().count() == 1


def test_null_verdict_passes_ansi_check_semantics(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.add_constraint("short_text", "length(text) <= 100")
    # null text → NULL verdict → passes (write IS NOT NULL to reject)
    t.merge(
        _src(spark, [("a", 0, "user", None, None, 1, "I")]), batch_id=0
    )
    assert t.read().count() == 1
    with pytest.raises(ConstraintViolation, match="short_text"):
        t.merge(
            _src(spark, [("b", 0, "user", "x" * 101, None, 2, "I")]),
            batch_id=1,
        )


def test_dead_letter_mode_diverts_via_pipeline(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.add_constraint(
        "turn_bounded", "turn_idx < 100", mode="dead_letter"
    )
    res = apply_batch(
        t,
        _src(spark, [
            ("a", 0, "user", "ok", None, 1, "I"),
            ("a", 250, "user", "way out of range", None, 2, "I"),
        ]),
        batch_id=0,
        cfg=ApplyConfig(),
    )
    assert not res.skipped
    state = {(r["conv_id"], r["turn_idx"]) for r in t.read().collect()}
    assert state == {("a", 0)}
    dl_dir = os.path.join(t.root, "_deadletter")
    dlq = spark.read.option("recursiveFileLookup", "true").parquet(dl_dir)
    dead = dlq.collect()
    assert len(dead) == 1
    assert dead[0]["_src_op"] == "constraint:turn_bounded"
    assert dead[0]["turn_idx"] == 250
    # the forensic payload is the table-typed row
    assert '"turn_idx":250' in dead[0]["_raw"].replace(" ", "")


def test_dead_letter_hardens_to_fail_without_sink(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.add_constraint("pos_turn", "turn_idx >= 0", mode="dead_letter")
    with pytest.raises(ConstraintViolation, match="pos_turn"):
        # direct merge with no valid_col/dead_sink: no route, so fail
        t.merge(
            _src(spark, [("a", -1, "user", "x", None, 1, "I")]),
            batch_id=0,
        )


def test_ddl_validation_and_evolution_guards(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="does not resolve"):
        t.add_constraint("ghost", "no_such_col > 0")
    with pytest.raises(ValueError, match="must be a boolean"):
        t.add_constraint("notbool", "length(text)")
    with pytest.raises(ValueError, match="fail|dead_letter"):
        t.add_constraint("badmode", "turn_idx >= 0", mode="quarantine")
    t.add_constraint("short_text", "length(text) <= 100")
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint("short_text", "length(text) <= 50")
    # rename/drop of a referenced column fails instead of orphaning
    with pytest.raises(ValueError, match="short_text"):
        t.rename_column("text", "body")
    with pytest.raises(ValueError, match="short_text"):
        t.drop_column("text")
    # unreferenced columns still evolve freely
    t.rename_column("role", "speaker")
    # drop the constraint → the rename goes through
    t.drop_constraint("short_text")
    assert t.constraints() == {}
    t.rename_column("text", "body")
    with pytest.raises(ValueError, match="no constraint"):
        t.drop_constraint("short_text")


def test_requeue_roundtrips_constraint_dead_rows(spark, tmp_path):
    from etl_pipeline_spark.pipeline import requeue_dead_letters

    t = _table(spark, tmp_path)
    t.add_constraint(
        "turn_bounded", "turn_idx < 100", mode="dead_letter"
    )
    apply_batch(
        t,
        _src(spark, [("a", 250, "user", "oops", None, 1, "I")]),
        batch_id=0,
        cfg=ApplyConfig(),
    )
    assert t.read().count() == 0
    # a repair that fixes the value lets the row back in
    def repair(dlq):
        return dlq.select(
            "conv_id",
            (F.col("turn_idx") % 100).alias("turn_idx"),
            F.col("role"),
            F.col("text"),
            F.col("ts"),
            F.col("_lsn").alias("lsn"),
            F.lit("I").alias("op"),
        )

    res = requeue_dead_letters(spark, t, repair=repair)
    assert not res.skipped
    state = {(r["conv_id"], r["turn_idx"]) for r in t.read().collect()}
    assert state == {("a", 50)}


def test_salted_path_preserves_filter_then_lww(spark, tmp_path, monkeypatch):
    """dead_letter constraints are per-EVENT semantics: a newer
    VIOLATING update must divert while the key keeps its older valid
    value. The pipeline's salted pre-collapse would have erased the
    older event first — apply_batch must take the fused path even when
    the skew probe's gate is open and the probe would say "hot" (the
    partial/agg-engine pattern)."""
    import etl_pipeline_spark.pipeline as pl

    monkeypatch.setattr(pl, "SKEW_PROBE_MIN_BYTES", 0)
    monkeypatch.setattr(pl, "detect_hot_keys", lambda df, keys, thr: True)
    t = _table(spark, tmp_path)
    t.add_constraint("role_ok", "role <> 'gremlin'", mode="dead_letter")
    # file-backed: only a batch with input files has a size estimate,
    # which the probe's size gate needs
    _src(spark, [
        ("a", 0, "user", "first", None, 1, "I"),
        ("a", 0, "gremlin", "poison", None, 2, "U"),
    ]).write.parquet(str(tmp_path / "batch"))
    apply_batch(
        t, spark.read.parquet(str(tmp_path / "batch")), batch_id=0,
    )
    state = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"])
        for r in t.read().collect()
    }
    assert state == {("a", 0): ("user", "first")}
    dlq = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(t.root, "_deadletter")
    )
    assert dlq.filter(
        F.col("_src_op") == "constraint:role_ok"
    ).count() == 1
