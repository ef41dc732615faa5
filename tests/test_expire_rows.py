"""Row retention expiry as metadata-level file drops (expire_rows).

The claims under test: rows with ``col < cutoff`` disappear exactly
(null / NaN / tombstones retained), files wholly below the cutoff are
DROPPED from pure footer metadata, files wholly above are HARDLINKED
(zero bytes copied — old snapshots keep reading the shared inodes, so
time travel across the expiry survives until retention GC), only
boundary files are rewritten, and a racing commit aborts the expiry
with a retryable CommitConflict rather than corrupting either result.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_spark.lake.minilake import CommitConflict, MiniLakeTable
from etl_pipeline_spark.pipeline import ApplyConfig, apply_batch

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("score", T.DoubleType(), True),
    ]
)
CFG = ApplyConfig(clean_cols=())
ROWS_SQL = (
    "lsn long, op string, conv_id string, turn_idx int, text string, "
    "ts timestamp, score double"
)


def _ts(d: int) -> datetime.datetime:
    return datetime.datetime(2026, 1, d)


def _mk(spark, root, rows, n_buckets=4):
    t = MiniLakeTable.create(
        spark, str(root), SCHEMA, key_cols=["conv_id", "turn_idx"],
        n_buckets=n_buckets, write_mode="mor",
    )
    apply_batch(t, spark.createDataFrame(rows, ROWS_SQL), 0, CFG,
                stream_id="s")
    return t


def _expected(t, cutoff):
    return sorted(
        t.read()
        .filter(F.col("ts").isNull() | ~(F.col("ts") < F.lit(cutoff)))
        .collect()
    )


def test_exactness_with_drops_links_and_rewrites(spark, tmp_path):
    rows = [
        (i, "I", f"c{i}", i, f"v{i}", _ts(1 + i % 28), float(i))
        for i in range(1, 400)
    ]
    rows += [
        (400, "D", "c5", 5, None, None, None),       # tombstone
        (401, "I", "cnull", 0, "null-ts", None, 1.0),  # null ts retained
    ]
    t = _mk(spark, tmp_path / "t", rows)
    t.compact(drop_tombstones=False, cluster_cols=["ts"],
              target_rows_per_file=30)
    cutoff = _ts(15)
    want = _expected(t, cutoff)
    res = t.expire_rows("ts", cutoff)
    # the clustered layout must make the drop path REAL: whole files
    # removed from footer metadata alone, untouched files hardlinked
    assert res["files_dropped"] > 0 and res["files_linked"] > 0
    assert sorted(t.read().collect()) == want
    assert ("cnull", 0) in {
        (r["conv_id"], r["turn_idx"]) for r in t.read().collect()
    }
    # tombstone survives: a stale straggler can never resurrect c5
    assert t.read_tombstones().count() == 1
    # idempotent: a second expiry at the same cutoff is a no-op
    v = t.current_version()
    res2 = t.expire_rows("ts", cutoff)
    assert res2["version"] == v and res2["files_dropped"] == 0


def test_time_travel_and_gc_across_expiry(spark, tmp_path):
    rows = [
        (i, "I", f"c{i}", i, f"v{i}", _ts(1 + i % 28), float(i))
        for i in range(1, 200)
    ]
    t = _mk(spark, tmp_path / "t", rows)
    t.compact(drop_tombstones=True, cluster_cols=["ts"],
              target_rows_per_file=20)
    pre = sorted(t.read().collect())
    v_pre = t.current_version()
    res = t.expire_rows("ts", _ts(15))
    assert res["files_linked"] > 0
    post = sorted(t.read().collect())
    # hardlink sharing: the PRE-expiry snapshot still reads complete
    assert sorted(t.read(version=v_pre).collect()) == pre
    # GC the old snapshots: shared inodes must survive dir removal
    gc = t.expire_snapshots(keep_last=1, orphan_min_age_s=0)
    assert gc["dirs_removed"] > 0
    assert sorted(t.read().collect()) == post


def test_unresolved_mor_requires_compaction(spark, tmp_path):
    rows = [(i, "I", f"c{i}", i, "v", _ts(2), 1.0) for i in range(1, 30)]
    t = _mk(spark, tmp_path / "t", rows)  # delta-only, never compacted
    with pytest.raises(ValueError, match="resolved"):
        t.expire_rows("ts", _ts(15), compact_first=False)
    # compact_first folds in-line (tombstone-keeping) and proceeds
    res = t.expire_rows("ts", _ts(15), compact_first=True)
    assert t.read().count() == 0  # everything was below the cutoff
    assert res["files_dropped"] > 0 or res["files_rewritten"] > 0


def test_unclustered_layout_degrades_to_rewrite(spark, tmp_path):
    # key-sorted compaction: ts spans every file → everything boundary
    rows = [
        (i, "I", f"c{i % 37}", i % 5, "v", _ts(1 + i % 28), float(i))
        for i in range(1, 300)
    ]
    t = _mk(spark, tmp_path / "t", rows)
    t.compact(drop_tombstones=True)
    cutoff = _ts(15)
    want = _expected(t, cutoff)
    t.expire_rows("ts", cutoff)
    assert sorted(t.read().collect()) == want


def test_nan_rows_are_retained(spark, tmp_path):
    nan = float("nan")
    rows = [
        (1, "I", "a", 1, "old", _ts(2), 1.0),
        (2, "I", "b", 2, "nan", _ts(2), nan),
        (3, "I", "c", 3, "new", _ts(20), 9.0),
    ]
    t = _mk(spark, tmp_path / "t", rows)
    t.compact(drop_tombstones=True)
    # expire on the DOUBLE column: NaN matches no range predicate, so
    # the NaN row must survive (read_range convention)
    t.expire_rows("score", 5.0)
    got = {r["conv_id"] for r in t.read().collect()}
    assert got == {"b", "c"}


def test_expiry_is_not_a_cdc_change(spark, tmp_path):
    """Retention is per-store policy: expired rows must NOT appear in
    the CDC-out feed (the Delta/Iceberg convention) — replicas apply
    their own retention."""
    rows = [(i, "I", f"c{i}", i, "v", _ts(1 + i % 28), 1.0)
            for i in range(1, 100)]
    t = _mk(spark, tmp_path / "t", rows)
    t.compact(drop_tombstones=True, cluster_cols=["ts"],
              target_rows_per_file=10)
    v_before = t.current_version()
    t.expire_rows("ts", _ts(15))
    assert t.read_changes_since(v_before).count() == 0


def test_racing_commit_aborts_cleanly(spark, tmp_path):
    rows = [(i, "I", f"c{i}", i, "v", _ts(1 + i % 28), 1.0)
            for i in range(1, 100)]
    t = _mk(spark, tmp_path / "t", rows)
    t.compact(drop_tombstones=True, cluster_cols=["ts"],
              target_rows_per_file=10)
    racer = MiniLakeTable(spark, t.root)
    orig = t._write_manifest
    fired = {"n": 0}

    def hooked(m):
        if fired["n"] == 0:
            fired["n"] = 1
            racer.merge(
                spark.createDataFrame(
                    [(500, "I", "znew", 9, "late", _ts(28), 1.0)], ROWS_SQL
                ).selectExpr(
                    "conv_id", "turn_idx", "text", "ts", "score",
                    "lsn", "op",
                ),
                batch_id=7,
            )
        return orig(m)

    t._write_manifest = hooked
    try:
        with pytest.raises(CommitConflict):
            t.expire_rows("ts", _ts(15))
    finally:
        t._write_manifest = orig
    # the racer's commit and the whole pre-expiry state are intact, and
    # the abandoned expire dir is gone
    assert t.read().count() == 100
    assert not any(
        n.startswith("expire-") for n in os.listdir(t.data_dir)
    ) or all(
        d in {x for ds in t.manifest()["buckets"].values() for x in ds}
        for n in os.listdir(t.data_dir) if n.startswith("expire-")
        for d in [n]
    )
    # retry after the conflict succeeds
    res = t.expire_rows("ts", _ts(15))
    assert res["files_dropped"] + res["files_rewritten"] > 0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_weird_scores = st.one_of(
    st.floats(min_value=-1e9, max_value=1e9, allow_nan=False,
              allow_infinity=False),
    st.sampled_from([float("nan"), float("inf"), float("-inf"),
                     -0.0, 0.0, None]),
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_property_expire_equals_filter(spark, tmp_path_factory, data):
    """For arbitrary double values (NaN, ±inf, ±0.0, nulls) and an
    arbitrary finite cutoff, expire_rows must equal the exact
    keep-filter ``NOT (col < cutoff) OR col IS NULL`` — whatever mix of
    drops, links and rewrites the footer classification picked."""
    scores = data.draw(st.lists(_weird_scores, min_size=1, max_size=25))
    cutoff = data.draw(
        st.floats(min_value=-1e9, max_value=1e9, allow_nan=False,
                  allow_infinity=False)
    )
    cluster = data.draw(st.booleans())
    root = tmp_path_factory.mktemp("expire_prop")
    rows = [
        (i + 1, "I", f"k{i}", i, "v", _ts(2), s)
        for i, s in enumerate(scores)
    ]
    t = _mk(spark, root / "t", rows)
    t.compact(
        drop_tombstones=True,
        target_rows_per_file=4,
        **({"cluster_cols": ["score"]} if cluster else {}),
    )
    def norm(rows):
        # NaN != NaN under Row equality; compare via a repr-stable key
        return sorted(
            tuple("NaN" if isinstance(v, float) and v != v else v
                  for v in r)
            for r in rows
        )

    want = norm(
        t.read()
        .filter(
            F.col("score").isNull() | ~(F.col("score") < F.lit(cutoff))
        )
        .collect()
    )
    t.expire_rows("score", cutoff)
    assert norm(t.read().collect()) == want


def test_expiry_after_add_columns_keeps_dirs_schema_homogeneous(
    spark, tmp_path
):
    """Hardlinked survivors written BEFORE an add_columns lack the new
    physical column; linking them next to the boundary-rewrite output
    (which carries it) would break the one-footer-schema-per-dir
    invariant the initial-default read path depends on. Those survivors
    must be demoted to rewrite — and pre/post-add values plus the
    default must all read back exactly."""
    rows = [
        (i, "I", f"c{i}", i, f"v{i}", _ts(1 + i % 28), 1.0)
        for i in range(1, 120)
    ]
    t = _mk(spark, tmp_path / "t", rows)
    t.compact(drop_tombstones=True, cluster_cols=["ts"],
              target_rows_per_file=12)
    # metadata-only add: every surviving file now PREDATES the column
    t.add_columns(
        [T.StructField("lang", T.StringType(), True)],
        defaults={"lang": "en"},
    )
    cutoff = _ts(15)
    want = sorted(
        t.read()
        .filter(F.col("ts").isNull() | ~(F.col("ts") < F.lit(cutoff)))
        .collect()
    )
    res = t.expire_rows("ts", cutoff)
    # every pre-add survivor was demoted to rewrite (its footer set
    # differs from the canonical write set) — no mixed-schema dir can
    # form, so no hardlinks here
    assert res["files_linked"] == 0
    assert res["files_rewritten"] > 0
    assert sorted(t.read().collect()) == want
    import pyarrow.parquet as pq

    for ds in t.manifest()["buckets"].values():
        for d in ds:
            sets = {
                frozenset(
                    pq.read_metadata(os.path.join(d, n)).schema.names
                )
                for n in os.listdir(d) if n.endswith(".parquet")
            }
            assert len(sets) <= 1, (d, sets)
    # the initial default still reads on every surviving row
    assert {r["lang"] for r in t.read().collect()} == {"en"}


def test_engine_guard(spark, tmp_path):
    t = MiniLakeTable.create(
        spark, str(tmp_path / "agg"),
        T.StructType([
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("n", T.LongType(), True),
        ]),
        key_cols=["conv_id", "turn_idx"], write_mode="mor",
        merge_engine="agg", agg_spec={"n": "sum"},
    )
    with pytest.raises(ValueError, match="lww"):
        t.expire_rows("n", 5)


def test_manifest_stats_fast_path_matches_footer_walk(
    spark, tmp_path, monkeypatch
):
    """With ``set_stats_columns`` declared, expire_rows classifies most
    files from the manifest's per-file bounds + null/tombstone metadata
    and only opens BOUNDARY footers — same drops/links/rewrites and the
    same surviving rows as the pure footer walk, with strictly fewer
    driver-side footer reads."""
    rows = [
        (i, "I", f"c{i}", i, f"v{i}", _ts(1 + i % 28), float(i))
        for i in range(1, 400)
    ]
    cutoff = _ts(15)

    results = {}
    for mode in ("footer", "manifest"):
        t = _mk(spark, tmp_path / mode, rows)
        if mode == "manifest":
            t.set_stats_columns(["ts"])
        t.compact(drop_tombstones=False, cluster_cols=["ts"],
                  target_rows_per_file=30)
        want = _expected(t, cutoff)

        import pyarrow.parquet as pq

        calls = {"n": 0}
        real = pq.read_metadata

        def counting(path, *a, **kw):
            calls["n"] += 1
            return real(path, *a, **kw)

        monkeypatch.setattr(pq, "read_metadata", counting)
        res = t.expire_rows("ts", cutoff)
        monkeypatch.setattr(pq, "read_metadata", real)
        assert sorted(t.read().collect()) == want
        results[mode] = (res, calls["n"])

    (res_f, n_f), (res_m, n_m) = results["footer"], results["manifest"]
    for k in ("files_dropped", "files_linked", "files_rewritten"):
        assert res_f[k] == res_m[k], (k, res_f, res_m)
    assert res_m["files_dropped"] > 0
    # the fast path must actually engage: strictly fewer footer opens
    assert n_m < n_f, (n_m, n_f)


def test_stats_loss_warns_loudly(spark, tmp_path):
    """A session writing INT96 timestamps (no footer min/max) used to
    degrade every stats surface silently; compact must now warn."""
    import warnings

    rows = [
        (i, "I", f"c{i}", i, f"v{i}", _ts(1 + i % 28), float(i))
        for i in range(1, 60)
    ]
    t = _mk(spark, tmp_path / "w", rows)
    t.set_stats_columns(["ts"])
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        with warnings.catch_warnings(record=True) as got:
            warnings.simplefilter("always")
            t.compact(drop_tombstones=False, cluster_cols=["ts"],
                      target_rows_per_file=30)
        assert any("stats column" in str(w.message) for w in got), [
            str(w.message) for w in got
        ]
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)


def test_stats_loss_warning_points_at_the_callers_line(spark, tmp_path):
    """The INT96 warning names the user's own merge/compact call, not a
    frame inside the engine, however deep the engine's call chain is."""
    t = _mk(spark, tmp_path / "w", [(1, "I", "c1", 1, "v1", _ts(1), 1.0)])
    t.set_stats_columns(["ts"])
    batch = spark.createDataFrame(
        [(2, "U", "c1", 1, "v2", _ts(2), 2.0)], ROWS_SQL
    )
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        with pytest.warns(UserWarning, match="stats column") as merged:
            t.merge(batch, batch_id=1, stream_id="s")
        with pytest.warns(UserWarning, match="stats column") as compacted:
            t.compact(drop_tombstones=False)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    for rec in (*merged, *compacted):
        if "stats column" in str(rec.message):
            assert rec.filename == __file__, (rec.filename, rec.lineno)
