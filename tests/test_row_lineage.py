"""Row lineage (Iceberg v3 ``_row_id`` / last-updated analog).

Semantics under test (minilake.read_lineage + the lineage-aware folds):
``birth_lsn`` = min live LSN strictly above the key's last tombstone —
stable across updates, reset by delete + re-insert, NULL for a dead key;
``last_lsn`` = the LWW winner's LSN. Exact for ``row_lineage=True``
tables under LSN-ordered cross-batch delivery even though every fold
(delta pre-reduce, maintenance compaction, rescale) DISCARDS loser
events — the associative ``_birth_lsn``/``_tomb_lsn`` summaries carry
exactly enough. Cross-batch stragglers older than an already-folded
segment resolve commit-ordered (like Iceberg lineage) — pinned below.
"""

from __future__ import annotations

from collections import defaultdict

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_spark.lake.minilake import MiniLakeTable
from etl_pipeline_spark.pipeline import ApplyConfig, apply_batch

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

CFG = ApplyConfig(clean_cols=())


def _table(spark, root, **kw):
    return MiniLakeTable.create(
        spark,
        str(root),
        SCHEMA,
        key_cols=["conv_id", "turn_idx"],
        n_buckets=4,
        write_mode="mor",
        row_lineage=True,
        **kw,
    )


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "lsn long, op string, conv_id string, turn_idx int, text string"
    )


def _lineage(t, **kw):
    return {
        (r["conv_id"], r["turn_idx"]): (r["birth_lsn"], r["last_lsn"])
        for r in t.read_lineage(**kw).collect()
    }


def _oracle(events):
    """Segment semantics computed from scratch over the raw events."""
    by_key = defaultdict(list)
    for lsn, op, c, tix, _ in events:
        by_key[(c, tix)].append((lsn, op))
    out = {}
    for k, evs in by_key.items():
        dl = max((l for l, o in evs if o == "D"), default=None)
        live = [l for l, o in evs if o != "D" and (dl is None or l > dl)]
        if live:
            out[k] = (min(live), max(live))
    return out


def test_segment_semantics_within_and_across_batches(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    b1 = [
        (1, "I", "a", 1, "x"), (3, "U", "a", 1, "y"),      # update chain
        (2, "I", "b", 2, "p"), (4, "D", "b", 2, None),
        (5, "I", "b", 2, "q"),                              # die+reborn IN batch
        (6, "I", "c", 3, "z"),
    ]
    b2 = [
        (7, "D", "a", 1, None), (9, "I", "a", 1, "y2"),     # reborn ACROSS batch
        (8, "U", "c", 3, "z2"),                             # birth survives update
    ]
    apply_batch(t, _batch(spark, b1), 0, CFG, stream_id="s")
    assert _lineage(t) == _oracle(b1)
    apply_batch(t, _batch(spark, b2), 1, CFG, stream_id="s")
    assert _lineage(t) == _oracle(b1 + b2) == {
        ("a", 1): (9, 9), ("b", 2): (5, 5), ("c", 3): (6, 8)
    }


def test_compaction_and_rescale_preserve_lineage(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    b1 = [(i, "I", f"k{i % 7}", i % 3, f"v{i}") for i in range(1, 40)]
    b2 = [(40, "D", "k1", 1, None), (41, "I", "k1", 1, "re"),
          (42, "U", "k2", 2, "up")]
    apply_batch(t, _batch(spark, b1), 0, CFG, stream_id="s")
    apply_batch(t, _batch(spark, b2), 1, CFG, stream_id="s")
    want = _oracle(b1 + b2)
    assert _lineage(t) == want
    t.compact(drop_tombstones=False)  # mid-stream fold keeps tombstones
    assert _lineage(t) == want
    # fold of a fold: births must not drift on repeated maintenance
    apply_batch(t, _batch(spark, [(43, "U", "k1", 1, "re2")]), 2, CFG,
                stream_id="s")
    t.compact(drop_tombstones=True)
    want = _oracle(b1 + b2 + [(43, "U", "k1", 1, "re2")])
    assert _lineage(t) == want
    t.rescale_buckets(2)
    assert _lineage(t) == want


def test_tombstone_view_and_hidden_bookkeeping(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    apply_batch(
        t,
        _batch(spark, [(1, "I", "a", 1, "x"), (2, "D", "a", 1, None),
                       (3, "I", "b", 2, "y")]),
        0, CFG, stream_id="s",
    )
    rows = {
        (r["conv_id"], r["turn_idx"]): r
        for r in t.read_lineage(include_tombstones=True).collect()
    }
    dead = rows[("a", 1)]
    assert dead["_deleted"] and dead["birth_lsn"] is None
    assert dead["last_lsn"] == 2  # the tombstone's own LSN
    # the state view never surfaces lineage bookkeeping
    assert t.read().columns == ["conv_id", "turn_idx", "text"]
    assert "_birth_lsn" in t.read_physical().columns


def test_with_commit_attribution(spark, tmp_path):
    from etl_pipeline_spark.lake.minilake import MAX_LSN_PROP

    t = _table(spark, tmp_path / "t")
    apply_batch(t, _batch(spark, [(1, "I", "a", 1, "x")]), 0, CFG,
                stream_id="s")
    apply_batch(t, _batch(spark, [(2, "U", "a", 1, "y"),
                                  (3, "I", "b", 2, "z")]), 1, CFG,
                stream_id="s")
    t.compact(drop_tombstones=False)  # must not shift attribution
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in t.read_lineage(with_commit=True).collect()
    }
    for r in got.values():
        v = r["last_commit_version"]
        assert r["last_lsn"] <= t.manifest(v)["properties"][MAX_LSN_PROP]
        prev = t.manifest(v - 1)["properties"].get(MAX_LSN_PROP, -1)
        assert r["last_lsn"] > prev
    # both keys last-written by the second merge commit
    assert got[("a", 1)]["last_commit_version"] == (
        got[("b", 2)]["last_commit_version"]
    )


def test_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="row_lineage"):
        MiniLakeTable.create(
            spark, str(tmp_path / "cow"), SCHEMA,
            key_cols=["conv_id", "turn_idx"], write_mode="cow",
            row_lineage=True,
        )
    with pytest.raises(ValueError, match="row_lineage"):
        MiniLakeTable.create(
            spark, str(tmp_path / "pu"), SCHEMA,
            key_cols=["conv_id", "turn_idx"], write_mode="mor",
            merge_engine="partial", row_lineage=True,
        )
    plain_cow = MiniLakeTable.create(
        spark, str(tmp_path / "plain"), SCHEMA,
        key_cols=["conv_id", "turn_idx"], write_mode="cow",
    )
    with pytest.raises(ValueError, match="row lineage"):
        plain_cow.read_lineage()
    with pytest.raises(ValueError, match="row lineage"):
        plain_cow.enable_row_lineage()


def test_enable_midlife_approximation_is_pinned(spark, tmp_path):
    """Mid-life enablement: segments folded BEFORE enablement lost their
    losers, so their birth reads as the folded winner's own LSN (the
    earliest event that still physically exists) — the documented
    approximation. Segments born after enablement are exact."""
    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA,
        key_cols=["conv_id", "turn_idx"], n_buckets=4, write_mode="mor",
    )
    assert not t.row_lineage
    apply_batch(t, _batch(spark, [(1, "I", "a", 1, "x"),
                                  (3, "U", "a", 1, "y")]), 0, CFG,
                stream_id="s")
    t.compact(drop_tombstones=False)  # losers gone pre-enablement
    t.enable_row_lineage()
    assert t.row_lineage
    apply_batch(t, _batch(spark, [(5, "U", "a", 1, "z"),
                                  (6, "I", "b", 2, "w")]), 1, CFG,
                stream_id="s")
    got = _lineage(t)
    assert got[("a", 1)] == (3, 5)  # approximate: true birth 1 was folded away
    assert got[("b", 2)] == (6, 6)  # post-enablement: exact
    # post-enablement re-birth is exact again
    apply_batch(t, _batch(spark, [(7, "D", "a", 1, None),
                                  (8, "I", "a", 1, "r")]), 2, CFG,
                stream_id="s")
    assert _lineage(t)[("a", 1)] == (8, 8)


def test_commit_ordered_straggler_is_pinned(spark, tmp_path):
    """A straggler D arriving BELOW an already-folded segment resolves
    commit-ordered, exactly like Iceberg's lineage: the folded birth is
    below the late tombstone, so the surviving winner's own LSN becomes
    the birth — NOT the (physically unrecoverable) true segment birth.
    The LWW state is untouched either way (the D loses to the winner)."""
    t = _table(spark, tmp_path / "t")
    apply_batch(t, _batch(spark, [(1, "I", "a", 1, "x"),
                                  (4, "U", "a", 1, "y"),
                                  (5, "U", "a", 1, "z")]), 0, CFG,
                stream_id="s")
    # straggler: D@3 delivered a batch late (violates the WAL order)
    apply_batch(t, _batch(spark, [(3, "D", "a", 1, None)]), 1, CFG,
                stream_id="s")
    assert t.read().collect()[0]["text"] == "z"  # LWW winner stands
    # segment-true birth would be 4 (min live > 3) but event 4 was folded
    # away by batch 0's pre-reduce; commit-ordered resolution reports the
    # winner's own LSN
    assert _lineage(t)[("a", 1)] == (5, 5)


def test_dead_letters_ride_the_lineage_fold(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    rows = [
        (1, "I", "a", 1, "x"), (2, "U", "a", 1, "y"),
        (3, "I", None, 1, "lost-key"),       # dead: null key
        (4, "X", "b", 2, "bad-op"),          # dead: unknown op
        (5, "I", "b", 2, "ok"),
    ]
    apply_batch(t, _batch(spark, rows), 0, CFG, stream_id="s")
    good = [r for r in rows if r[2] is not None and r[1] in "IUD"]
    assert _lineage(t) == _oracle(good)
    dlq = spark.read.parquet(str(tmp_path / "t" / "_deadletter" / "*"))
    assert dlq.count() == 2
    # DLQ rows carry no lineage junk — forensics stay clean
    assert dlq.filter(F.col("_birth_lsn").isNotNull()).count() == 0
    assert dlq.filter(F.col("_tomb_lsn").isNotNull()).count() == 0


def test_lineage_survives_schema_evolution(spark, tmp_path):
    """Additive evolution mid-stream on a lineage table: batches after
    an add_columns carry the new column, pre-add files read it as null,
    and the lineage summaries ride the widened physical schema through
    the next compaction untouched."""
    t = _table(spark, tmp_path / "t")
    b1 = [(1, "I", "a", 1, "x"), (2, "I", "b", 2, "y"),
          (3, "U", "a", 1, "x2")]
    apply_batch(t, _batch(spark, b1), 0, CFG, stream_id="s")
    t.add_columns([T.StructField("tool", T.StringType(), True)])
    b2 = spark.createDataFrame(
        [(4, "U", "b", 2, "y2", "search"), (5, "D", "a", 1, None, None),
         (6, "I", "a", 1, "re", "calc")],
        "lsn long, op string, conv_id string, turn_idx int, "
        "text string, tool string",
    )
    apply_batch(t, b2, 1, CFG, stream_id="s")
    want = {("a", 1): (6, 6), ("b", 2): (2, 4)}
    assert _lineage(t) == want
    t.compact(drop_tombstones=False)
    assert _lineage(t) == want
    tools = {
        (r["conv_id"], r["turn_idx"]): r["tool"]
        for r in t.read().collect()
    }
    assert tools == {("a", 1): "calc", ("b", 2): "search"}


def test_lineage_survives_row_expiry(spark, tmp_path):
    """expire_rows on a lineage table: survivors keep their exact
    births (kept files are hardlinked verbatim; boundary rewrites carry
    the summary columns through _read_files/_to_physical)."""
    import datetime

    schema = T.StructType(
        SCHEMA.fields + [T.StructField("ts", T.TimestampType(), True)]
    )
    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), schema,
        key_cols=["conv_id", "turn_idx"], n_buckets=4, write_mode="mor",
        row_lineage=True,
    )
    rows = [
        (i, "I", f"k{i}", i, "v", datetime.datetime(2026, 1, 1 + i % 28))
        for i in range(1, 100)
    ] + [(100, "U", "k5", 5, "v2", datetime.datetime(2026, 1, 20))]
    apply_batch(
        t,
        spark.createDataFrame(
            rows,
            "lsn long, op string, conv_id string, turn_idx int, "
            "text string, ts timestamp",
        ),
        0, CFG, stream_id="s",
    )
    t.compact(drop_tombstones=True, cluster_cols=["ts"],
              target_rows_per_file=10)
    before = _lineage(t)
    t.expire_rows("ts", datetime.datetime(2026, 1, 10))
    after = _lineage(t)
    survivors = {
        (r["conv_id"], r["turn_idx"]) for r in t.read().collect()
    }
    assert after == {k: v for k, v in before.items() if k in survivors}
    # the updated key k5 (birth 5, last 100) survived with exact lineage
    assert after[("k5", 5)] == (5, 100)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_property_random_ordered_streams(spark, tmp_path_factory, data):
    """Random I/U/D streams over a small key space, split into ordered
    micro-batches at random boundaries, with compactions injected at
    random points: the final lineage must equal segment semantics
    computed from scratch — whatever the fold schedule was."""
    n = data.draw(st.integers(5, 40))
    ops = data.draw(
        st.lists(
            st.tuples(
                st.sampled_from(["I", "U", "D"]),
                st.integers(0, 4),  # key id
            ),
            min_size=n, max_size=n,
        )
    )
    cuts = sorted(
        data.draw(
            st.sets(st.integers(1, max(1, n - 1)), min_size=0, max_size=3)
        )
    )
    compact_after = data.draw(
        st.sets(st.integers(0, len(cuts)), min_size=0, max_size=2)
    )
    events = [
        (i + 1, op, f"k{kid}", kid % 3, f"v{i}")
        for i, (op, kid) in enumerate(ops)
    ]
    root = tmp_path_factory.mktemp("lineage_prop")
    t = _table(spark, root / "t")
    bounds = [0] + cuts + [n]
    for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        if lo == hi:
            continue
        apply_batch(t, _batch(spark, events[lo:hi]), b, CFG, stream_id="s")
        if b in compact_after:
            t.compact(drop_tombstones=False)
    assert _lineage(t) == _oracle(events)
