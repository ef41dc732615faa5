"""Seeded benchmark inputs, generated in this process and cached on disk.

Every input is a pure function of ``(seed, size)`` and, for changelogs,
of the engine's generator source: the same seed gives byte-identical
files. A cache entry is a directory named after the seed, the size and
(for changelogs) a hash of the whole ``GenConfig`` and of
``sources/genlog.py``, completed by a
``_DONE`` marker that also records how long generation took, so a cache
hit still reports the generation time (``sources.gen_s``) without paying
it again; a change to the generator misses the cache.

Two kinds of input:

- **changelogs** (``bulk_replay``) — written by the engine's own
  generator (``sources.genlog.write_changelog``), with the independent
  oracle (``sources.genlog.expected_final_state``) computed from the
  files as delivered and stored next to them;
- **analytics tables** (``analytics_queries``) — a TPC-H-like star schema
  plus ``events``, ``documents`` and ``embeddings``, with the column
  names, types and value domains the query suite reads.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ANALYTICS_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _cached(path: str, build) -> tuple[str, float, bool]:
    """Return ``(path, gen_s, cache_hit)``; run ``build(tmp_path)`` once."""
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        with open(done) as fh:
            return path, json.load(fh)["gen_s"], True
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    build(tmp)
    gen_s = time.perf_counter() - t0
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        json.dump({"gen_s": gen_s}, fh)
    os.rename(tmp, path)
    return path, gen_s, False


def changelog(cache_dir: str, name: str, cfg) -> tuple[str, float, bool]:
    """Changelog ``<dir>/clog/batch-*.parquet`` for a ``GenConfig`` plus
    its oracle final state ``<dir>/oracle.parquet``."""
    from etl_pipeline_spark.sources.genlog import (
        expected_final_state,
        write_changelog,
    )

    def build(tmp: str) -> None:
        paths = write_changelog(cfg, os.path.join(tmp, "clog"))
        # The oracle sees the events exactly as delivered: files written
        # before the schema birth carry no ``tool`` column at all.
        delivered = pd.concat(
            [pd.read_parquet(p) for p in paths], ignore_index=True
        )
        oracle = expected_final_state(delivered)
        oracle.to_parquet(os.path.join(tmp, "oracle.parquet"), index=False)

    import etl_pipeline_spark.sources.genlog as genlog

    # the whole config and the generator's source: a change to either
    # misses the cache
    with open(genlog.__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read() + repr(cfg).encode()).hexdigest()[:12]
    key = f"{name}-s{cfg.seed}-n{cfg.n_events}-b{cfg.batch_size}-{digest}"
    return _cached(os.path.join(cache_dir, key), build)


# --------------------------------------------------------------------------
# Analytics tables
# --------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window column order data join small big query group "
    "filter customer stream vector"
).split()
_EMB_DIM = 64


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, size=n)).astype("datetime64[us]")


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out, f"{name}.parquet")
    )


def _documents(rng, n: int) -> dict:
    """Word-salad documents over a small vocabulary; about 5% are edited
    copies of an earlier document (near duplicates for MinHash) and
    about 1% differ from one only by case and spacing (exact duplicates
    after normalisation)."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = _DOC_WORDS[
                rng.integers(0, len(_DOC_WORDS))
            ]
            texts.append(" ".join(words))
        elif i > 10 and r < 0.06:
            texts.append("  " + texts[rng.integers(0, i)].upper() + " ")
        else:
            k = int(rng.integers(10, 90))
            texts.append(
                " ".join(_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), k))
            )
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    label = rng.integers(0, 10, size=n).astype(np.int32)
    centroids = rng.normal(0.0, 0.1, size=(10, _EMB_DIM))
    vecs = (centroids[label] + rng.normal(0.0, 0.08, size=(n, _EMB_DIM))).astype(
        np.float32
    )
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), _EMB_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": label,
        }
    )


def analytics_tables(cache_dir: str, seed: int, sf: float) -> tuple[str, float, bool]:
    """Directory of ``<table>.parquet`` files at scale factor ``sf``
    (lineitem has ``6_000_000 * sf`` rows)."""

    def build(out: str) -> None:
        os.makedirs(out)
        rng = np.random.default_rng(seed)
        n_cust = int(150_000 * sf)
        n_supp = max(int(10_000 * sf), 10)
        n_part = int(200_000 * sf)
        n_ord = int(1_500_000 * sf)
        n_li = int(6_000_000 * sf)
        n_ev = int(1_000_000 * sf)
        n_users = max(int(15_000 * sf), 50)
        n_docs = int(50_000 * sf)
        n_emb = int(50_000 * sf)

        _write(out, "region", {
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS,
        })
        _write(out, "nation", {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        })
        _write(out, "customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        })
        _write(out, "supplier", {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
        })
        _write(out, "part", {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        })
        _write(out, "orders", {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        })
        _write(out, "lineitem", {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        })
        # events: one month of activity, ids in time order
        ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
        _write(out, "events", {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(20.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        })
        _write(out, "documents", _documents(rng, n_docs))
        pq.write_table(_embeddings(rng, n_emb), os.path.join(out, "embeddings.parquet"))

    return _cached(os.path.join(cache_dir, f"tables-s{seed}-sf{sf}"), build)
