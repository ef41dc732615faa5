"""Manifest file stats decoded from Parquet footers (lake/minilake.py).

One decoder, ``MiniLakeTable._file_col_bounds``, reads footer
statistics; the manifest's per-dir key/``_lsn`` bounds, its per-file
declared-column bounds and ``expire_rows``' file verdicts all derive
from it. These tests pin that a key type with no raw-comparable bounds
(timestamp) loses only the key bounds, that point lookups keep dirs
without key bounds, and that the decoder's output on every footer
equals what the manifest recorded for it — across NaN, all-null,
post-``add_columns`` and tombstone-holding files.
"""

from __future__ import annotations

import datetime
import math
import os
import warnings

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_pipeline_spark.lake.audit import audit_table
from etl_pipeline_spark.lake.minilake import MiniLakeTable, physical_name


def _ts(h: int) -> datetime.datetime:
    return datetime.datetime(2026, 1, 1) + datetime.timedelta(hours=h)


def _micros(v: datetime.datetime) -> int:
    return MiniLakeTable._encode_stat_bound(v)


def _live_files(t):
    m = t.manifest()
    for ds in m["buckets"].values():
        for d in ds:
            for name in sorted(os.listdir(d)):
                if name.endswith(".parquet"):
                    yield d, name


def _ts_keyed(spark, tmp_path):
    t = MiniLakeTable.create(
        spark, str(tmp_path / "tk"),
        T.StructType([
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("n", T.LongType(), True),
        ]),
        key_cols=["ts"], n_buckets=2, write_mode="mor",
    )
    t.set_stats_columns(["n"])
    batch = spark.createDataFrame(
        [(i, "I", _ts(i), i * 10) for i in range(40)],
        "lsn long, op string, ts timestamp, n long",
    )
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        t.merge(batch, batch_id=0, stream_id="s")
    return t, [str(w.message) for w in got]


def test_timestamp_key_keeps_rows_lsn_and_declared_bounds(spark, tmp_path):
    """A timestamp key has no raw-comparable footer bounds: the dir
    records rows, ``_lsn`` bounds and the declared column's per-file
    bounds — only the key bounds are left out — and the audit's
    independent footer walk agrees."""
    t, warned = _ts_keyed(spark, tmp_path)
    assert not any("no usable min/max" in w for w in warned), warned
    m = t.manifest()
    dirs = [d for ds in m["buckets"].values() for d in ds]
    assert len(dirs) == 2
    for d in dirs:
        s = m["file_stats"][d]
        assert "key_min" not in s and "key_max" not in s
        data = [
            pq.read_table(os.path.join(d, name)).to_pydict()
            for name in s["files"]
        ]
        assert s["rows"] == sum(len(x["_lsn"]) for x in data) > 0
        assert s["lsn_min"] == min(min(x["_lsn"]) for x in data)
        assert s["lsn_max"] == max(max(x["_lsn"]) for x in data)
        assert sorted(s["files"]) == sorted(
            n for n in os.listdir(d) if n.endswith(".parquet")
        )
        for name, x in zip(s["files"], data):
            assert s["files"][name]["n"] == [min(x["n"]), max(x["n"])]
    rep = audit_table(t, level="files")
    assert rep["ok"] and not rep["findings"], rep


def test_point_lookup_keeps_dirs_without_key_bounds(spark, tmp_path):
    t, _ = _ts_keyed(spark, tmp_path)
    keys = [_ts(3), _ts(17), _ts(39), _ts(99)]
    want = sorted(
        map(tuple, t.read().filter(F.col("ts").isin(keys)).collect())
    )
    got = sorted(map(tuple, t.read_for_keys(keys).collect()))
    assert got == want and len(got) == 3


def test_decoder_matches_manifest_file_entries(spark, tmp_path):
    """Re-decoding every live footer yields exactly the manifest's
    recorded per-file entry, and the entries hold the independently
    expected bounds: epoch-micros timestamps, no bounds for a double
    column holding NaN, ``"empty"`` for an all-null column, none for a
    column a pre-``add_columns`` file lacks, and the tombstone flag."""
    t = MiniLakeTable.create(
        spark, str(tmp_path / "dp"),
        T.StructType([
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("score", T.DoubleType(), True),
            T.StructField("gone", T.StringType(), True),
        ]),
        key_cols=["conv_id"], n_buckets=2, write_mode="mor",
    )
    t.set_stats_columns(["ts", "score", "gone"])
    sql = "lsn long, op string, conv_id string, ts timestamp, " \
          "score double, gone string"
    t.merge(spark.createDataFrame(
        [(i, "I", f"c{i}", _ts(i), float("nan") if i == 3 else float(i),
          None) for i in range(30)], sql,
    ), batch_id=0, stream_id="s")
    t.add_columns([T.StructField("lang", T.StringType(), True)])
    t.set_stats_columns(["ts", "score", "gone", "lang"])
    t.merge(spark.createDataFrame(
        [(100 + i, "D" if i % 3 == 0 else "U", f"c{i}", _ts(50 + i),
          float(i), None, f"l{i % 4}") for i in range(0, 30, 2)],
        sql + ", lang string",
    ), batch_id=1, stream_id="s")

    m = t.manifest()
    phys = {
        f.name: physical_name(f) for f in t.schema().fields
    }
    pcols = tuple(phys[c] for c in ("ts", "score", "gone", "lang"))
    seen = {"nan": 0, "tomb": 0, "pre_add": 0, "post_add": 0}
    for d, name in _live_files(t):
        entry = m["file_stats"][d]["files"][name]
        md = pq.read_metadata(os.path.join(d, name))
        bounds, nulls, tomb = MiniLakeTable._file_col_bounds(md, pcols)
        meta = {}
        if nulls:
            meta["nulls"] = nulls
        if tomb is not None:
            meta["tomb"] = tomb
        assert entry == {**bounds, **({"__file_meta__": meta} if meta
                                      else {})}, (d, name)

        x = pq.read_table(os.path.join(d, name)).to_pydict()
        ts = [v for v in x[phys["ts"]] if v is not None]
        assert entry[phys["ts"]] == [_micros(min(ts)), _micros(max(ts))]
        scores = [v for v in x[phys["score"]] if v is not None]
        if any(math.isnan(v) for v in scores):
            seen["nan"] += 1
            assert phys["score"] not in entry
        else:
            assert entry[phys["score"]] == [min(scores), max(scores)]
        assert entry[phys["gone"]] == "empty"
        if phys["lang"] in x:
            seen["post_add"] += 1
            langs = [v for v in x[phys["lang"]] if v is not None]
            assert entry[phys["lang"]] == [min(langs), max(langs)]
        else:
            seen["pre_add"] += 1
            assert phys["lang"] not in entry
        assert meta["tomb"] == any(x["_deleted"])
        seen["tomb"] += meta["tomb"]
    assert all(seen.values()), seen
