"""Golden replay-equality tests — the engine-level correctness gate.

A deterministic synthetic changelog is replayed through the full engine
(validate → clean → LWW → MERGE) and the final table must equal the
independent oracle (pandas reduction in genlog.expected_final_state),
per-turn text equality under stable (conv_id, turn_idx) ordering —
the shape of the reference's golden pipeline test
(/root/reference/tests/test_transform.py:756-850), generalized.

Covers: in-order replay, out-of-order delivery, duplicate delivery,
dead-letter exclusion, crash/resume exactly-once, hot-key skew (salted
path), and in-flight additive schema evolution.
"""

from __future__ import annotations

import pandas as pd
import pytest

from etl_pipeline_spark.lake.lineage import LineageLog
from etl_pipeline_spark.lake.minilake import MiniLakeTable
from etl_pipeline_spark.pipeline import ApplyConfig
from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA, TRANSCRIPT_SCHEMA_V0
from etl_pipeline_spark.sources.genlog import (
    GenConfig,
    expected_final_state,
    generate_delivered_events,
    generate_events,
    write_changelog,
)
from etl_pipeline_spark.streaming.ingest import replay_files

KEYS = ["conv_id", "turn_idx"]


def _fresh_table(spark, tmp_path, schema=TRANSCRIPT_SCHEMA, n_buckets=8):
    return MiniLakeTable.create(
        spark, str(tmp_path / "table"), schema, key_cols=KEYS, n_buckets=n_buckets
    )


def _engine_state(table) -> pd.DataFrame:
    pdf = table.read().toPandas()
    pdf["turn_idx"] = pdf["turn_idx"].astype("Int32")
    return pdf.sort_values(KEYS).reset_index(drop=True)[
        ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ]


def _oracle_state(cfg) -> pd.DataFrame:
    exp = expected_final_state(generate_delivered_events(cfg))
    exp["turn_idx"] = exp["turn_idx"].astype("Int32")
    exp["ts"] = pd.to_datetime(exp["ts"]).astype("datetime64[us]")
    exp["text"] = exp["text"].astype(object).where(exp["text"].notna(), None)
    return exp.reset_index(drop=True)


def _assert_state_equal(engine: pd.DataFrame, oracle: pd.DataFrame):
    assert len(engine) == len(oracle), (
        f"row count {len(engine)} != oracle {len(oracle)}"
    )
    eng = engine.astype(object).where(engine.notna(), None)
    ora = oracle.astype(object).where(oracle.notna(), None)
    for col in ["conv_id", "turn_idx", "role", "text", "tool"]:
        mism = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(eng[col], ora[col]))
            if a != b
        ]
        assert not mism, f"{col}: first mismatches {mism[:5]}"
    assert list(pd.to_datetime(eng["ts"])) == list(pd.to_datetime(ora["ts"]))


def _replay(spark, tmp_path, cfg, table=None, **kw):
    changelog = str(tmp_path / "changelog")
    write_changelog(cfg, changelog)
    table = table or _fresh_table(spark, tmp_path)
    replay_files(spark, changelog, table, **kw)
    return table


def test_golden_replay_in_order(spark, tmp_path):
    cfg = GenConfig(n_events=10_000, batch_size=2_000, dead_letter_rate=0.01)
    table = _replay(spark, tmp_path, cfg)
    _assert_state_equal(_engine_state(table), _oracle_state(cfg))
    # lineage: one record per batch with offsets + counts
    recs = [r for r in LineageLog(table.root).records() if not r.get("skipped_fenced")]
    assert len(recs) == 5
    assert all(r["offset_range"]["lsn_max"] is not None for r in recs)
    assert all(r["events_per_sec"] is not None for r in recs)
    assert sum(r["dead_lettered"] for r in recs) > 0


def test_golden_replay_out_of_order_and_dups(spark, tmp_path):
    cfg = GenConfig(
        n_events=20_000,
        batch_size=4_000,
        shuffle_window=1_000,
        dup_delivery_rate=0.02,
    )
    table = _replay(spark, tmp_path, cfg)
    _assert_state_equal(_engine_state(table), _oracle_state(cfg))


def test_crash_resume_exactly_once(spark, tmp_path):
    cfg = GenConfig(n_events=10_000, batch_size=1_000)
    changelog = str(tmp_path / "changelog")
    write_changelog(cfg, changelog)
    table = _fresh_table(spark, tmp_path)
    # apply 4 of 10 batches, then "crash"
    replay_files(spark, changelog, table, stop_after=4)
    v_mid = table.current_version()
    # restart from scratch — fencing must skip batches 0-3 without effect
    replay_files(spark, changelog, table)
    _assert_state_equal(_engine_state(table), _oracle_state(cfg))
    recs = LineageLog(table.root).records()
    fenced = [r for r in recs if r.get("skipped_fenced")]
    assert len(fenced) == 4
    # re-replay everything once more: pure no-op
    v_end = table.current_version()
    replay_files(spark, changelog, table)
    assert table.current_version() == v_end
    _assert_state_equal(_engine_state(table), _oracle_state(cfg))


def test_hot_key_skew_salted_path(spark, tmp_path, monkeypatch):
    cfg = GenConfig(
        n_events=30_000, batch_size=10_000, n_conversations=500,
        hot_key_fraction=0.9,
    )
    changelog = str(tmp_path / "changelog")
    write_changelog(cfg, changelog)
    table = _fresh_table(spark, tmp_path)
    # every batch probed (cadence 1) and found hot → salted reduce
    calls = _count_probes(monkeypatch, verdict=True, every=1)
    replay_files(
        spark, changelog, table, cfg=ApplyConfig(assert_unique_keys=True),
    )
    _assert_state_equal(_engine_state(table), _oracle_state(cfg))
    recs = [r for r in LineageLog(table.root).records() if not r.get("skipped_fenced")]
    assert len(calls) == len(recs) == 3
    assert all(r["salted_reduce"] for r in recs)


def test_schema_evolution_in_flight(spark, tmp_path):
    cfg = GenConfig(n_events=10_000, batch_size=2_000, evolution_batch=3)
    changelog = str(tmp_path / "changelog")
    write_changelog(cfg, changelog)
    # table starts WITHOUT the tool column
    table = _fresh_table(spark, tmp_path, schema=TRANSCRIPT_SCHEMA_V0)
    replay_files(spark, changelog, table)
    # engine must have evolved the schema in-flight
    assert "tool" in [f.name for f in table.schema().fields]
    _assert_state_equal(_engine_state(table), _oracle_state(cfg))
    # pre-evolution survivors (last write before lsn 6000) read tool NULL
    eng = _engine_state(table)
    events = generate_events(cfg)
    oracle = _oracle_state(cfg)
    pre = oracle[oracle["tool"].isna()]
    assert len(pre) > 0


def test_all_dead_letter_batch_still_advances_fence(spark, tmp_path):
    """A batch whose every event is invalid must apply nothing but MUST
    advance the fence — otherwise a resumed replay re-reads it forever."""
    from pyspark.sql import functions as F

    from etl_pipeline_spark.pipeline import apply_batch

    table = _fresh_table(spark, tmp_path)
    good = spark.createDataFrame(
        [("c1", 1, "user", "hello", None, 10, "I", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, lsn long, op string, source_part int",
    )
    apply_batch(table, good, 0)
    v1 = table.current_version()
    all_dead = good.withColumn("conv_id", F.lit(None).cast("string")).withColumn(
        "lsn", F.lit(11).cast("long")
    )
    res = apply_batch(table, all_dead, 1)
    assert not res.skipped
    assert table.read().count() == 1  # nothing applied
    from etl_pipeline_spark.lake.minilake import FENCES_PROP

    assert table.snapshot_props()[FENCES_PROP]["default"] == 1  # fence moved
    assert table.current_version() > v1
    # replaying the dead batch is now a fenced no-op
    res2 = apply_batch(table, all_dead, 1)
    assert res2.skipped


def test_replay_events_per_batch_packing(spark, tmp_path):
    """Volume-sized micro-batches (events_per_batch) must replay to the
    same final state as file-count batching, and must pack undersized
    tail files together instead of giving each its own batch."""
    cfg = GenConfig(n_events=10_000, batch_size=1_500)  # 7 files, last partial
    changelog = str(tmp_path / "clog")
    write_changelog(cfg, changelog)
    by_files = _fresh_table(spark, tmp_path / "a")
    replay_files(spark, changelog, by_files, files_per_batch=2)
    by_volume = _fresh_table(spark, tmp_path / "b")
    n = replay_files(spark, changelog, by_volume, events_per_batch=3_000)
    assert n == 4  # 10k rows / 3k target → 4 packed batches, not 7
    _assert_state_equal(_engine_state(by_files), _engine_state(by_volume))


def test_apply_batch_names_missing_required_columns(spark, tmp_path):
    import pytest

    from etl_pipeline_spark.pipeline import apply_batch

    table = _fresh_table(spark, tmp_path)
    no_op = spark.createDataFrame(
        [("a", 0, 1)], "conv_id string, turn_idx int, lsn long"
    )
    with pytest.raises(ValueError, match=r"missing required column.*'op'"):
        apply_batch(table, no_op, 0)


# ------------------------------------------------------------------ sticky
# skew probe (pipeline.SKEW_PROBE_EVERY): the sampling job re-runs on a
# cadence per stream, its verdict reused in between — skew is a property of
# the stream, and the per-batch probe was an extra full-scan job per batch.


def _count_probes(monkeypatch, verdict: bool, every: int):
    """Open the probe's size gate for every batch, set the probe cadence
    to ``every`` and patch pipeline.detect_hot_keys with a counting stub."""
    import etl_pipeline_spark.pipeline as pl

    monkeypatch.setattr(pl, "SKEW_PROBE_MIN_BYTES", 0)
    monkeypatch.setattr(pl, "SKEW_PROBE_EVERY", every)
    calls = []

    def fake(df, keys, threshold):
        calls.append(1)
        return verdict

    monkeypatch.setattr(pl, "detect_hot_keys", fake)
    return calls


def test_sticky_skew_probe_cadence(spark, tmp_path, monkeypatch):
    calls = _count_probes(monkeypatch, verdict=False, every=2)
    cfg = GenConfig(n_events=10_000, batch_size=2_000)
    changelog = str(tmp_path / "changelog")
    write_changelog(cfg, changelog)
    table = _fresh_table(spark, tmp_path)
    replay_files(spark, changelog, table)
    # 5 batches, cadence 2 -> probed on batches 0, 2, 4 only
    assert len(calls) == 3
    _assert_state_equal(_engine_state(table), _oracle_state(cfg))


def test_sticky_probe_salted_verdict_reused(spark, tmp_path, monkeypatch):
    calls = _count_probes(monkeypatch, verdict=True, every=4)
    cfg = GenConfig(n_events=10_000, batch_size=2_000)
    changelog = str(tmp_path / "changelog")
    write_changelog(cfg, changelog)
    table = _fresh_table(spark, tmp_path)
    replay_files(spark, changelog, table)
    # probed on 0 and 4; batches 1-3 reuse the salted verdict without a job
    assert len(calls) == 2
    recs = [
        r for r in LineageLog(table.root).records()
        if not r.get("skipped_fenced")
    ]
    assert len(recs) == 5 and all(r["salted_reduce"] for r in recs)
    _assert_state_equal(_engine_state(table), _oracle_state(cfg))


def test_direct_apply_batch_probes_every_batch(spark, tmp_path, monkeypatch):
    # no memo (direct caller) -> legacy probe-every-batch behavior, and
    # cadence 1 with a driver memo behaves identically
    calls = _count_probes(monkeypatch, verdict=False, every=1)
    cfg = GenConfig(n_events=10_000, batch_size=2_000)
    changelog = str(tmp_path / "changelog")
    write_changelog(cfg, changelog)
    replay_files(spark, changelog, _fresh_table(spark, tmp_path))
    assert len(calls) == 5


# A table whose merge must see every event (MiniLakeTable.needs_every_event)
# is never pre-collapsed, so apply_batch must not pay for a skew probe on it,
# even with the size gate open and a probe that would answer "hot".
# Batch: key a/0 is inserted, then updated twice (the last update carries a
# role the constraint table rejects and no text), b/1 is inserted once, and
# one null-key event is a dead letter.
_PER_EVENT_ROWS = [
    ("a", 0, "user", "  first  ", 1, "I"),
    ("a", 0, None, "second", 2, "U"),
    ("a", 0, "gremlin", None, 3, "U"),
    ("b", 1, "user", "x", 4, "I"),
    (None, 0, "user", "dead", 5, "I"),
]


@pytest.mark.parametrize(
    "kind,create_kw,expected,fused",
    [
        # column-coalescing: a null payload column means "not provided"
        ("partial", {"merge_engine": "partial"},
         {("a", 0): ("gremlin", "second"), ("b", 1): ("user", "x")}, False),
        # whole-row LWW; the lineage check below covers the births
        ("row_lineage", {"row_lineage": True},
         {("a", 0): ("gremlin", None), ("b", 1): ("user", "x")}, True),
        # filter-then-LWW: the violating last update is diverted, the key
        # keeps its last valid image
        ("dead_letter", {},
         {("a", 0): (None, "second"), ("b", 1): ("user", "x")}, True),
    ],
    ids=["partial", "row_lineage", "dead_letter"],
)
def test_per_event_tables_are_never_probed(
    spark, tmp_path, monkeypatch, kind, create_kw, expected, fused
):
    from etl_pipeline_spark.pipeline import apply_batch

    calls = _count_probes(monkeypatch, verdict=True, every=1)
    merge_kwargs = []
    real_merge = MiniLakeTable.merge

    def spy(self, source, *args, **kwargs):
        merge_kwargs.append(kwargs)
        return real_merge(self, source, *args, **kwargs)

    monkeypatch.setattr(MiniLakeTable, "merge", spy)
    table = MiniLakeTable.create(
        spark, str(tmp_path / "table"), TRANSCRIPT_SCHEMA_V0, key_cols=KEYS,
        n_buckets=4, write_mode="mor", **create_kw,
    )
    if kind == "dead_letter":
        table.add_constraint("role_ok", "role <> 'gremlin'",
                             mode="dead_letter")
    assert table.needs_every_event
    # file-backed, so the probe's size gate (now 0 bytes) sees the batch
    spark.createDataFrame(
        _PER_EVENT_ROWS,
        "conv_id string, turn_idx int, role string, text string, "
        "lsn long, op string",
    ).write.parquet(str(tmp_path / "batch"))
    res = apply_batch(table, spark.read.parquet(str(tmp_path / "batch")), 0)

    assert not res.skipped
    assert calls == []
    (kw,) = merge_kwargs
    assert ("valid_col" in kw) is fused
    (rec,) = LineageLog(table.root).records()
    assert rec["salted_reduce"] is False
    assert rec["dead_lettered"] == 1
    state = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"])
        for r in table.read().collect()
    }
    assert state == expected
    if kind == "row_lineage":
        births = {
            (r["conv_id"], r["turn_idx"]): r["birth_lsn"]
            for r in table.read_lineage().collect()
        }
        assert births == {("a", 0): 1, ("b", 1): 4}
