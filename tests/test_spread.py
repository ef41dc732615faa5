"""Bucket→shuffle-partition placement (lake/minilake._place_buckets).

``repartition(n, bucket)`` hash-collides the ~n distinct bucket ids
(32→32 leaves ~45% of partitions empty and 3-bucket stragglers), and
one partition per bucket runs many short waves on a host with fewer
cores than buckets. The spread token packs bucket rank r into partition
r mod P, P = min(#buckets, task slots), while keeping the single-
Exchange clustered-reduce plan. These tests pin the machinery it rests
on, the packing, the one-file-per-bucket layout and one-Sort plans
of the merge and compaction writes built on it, and the LWW-folding
read that packs the same way.
"""

from __future__ import annotations

import glob
import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_pipeline_spark.lake.minilake import (
    BUCKET_COL,
    DEAD_BUCKET,
    SPREAD_COL,
    MiniLakeTable,
    _murmur3_int,
    _place_buckets,
    _spread_expr,
    _spread_tokens,
)
from etl_pipeline_spark.pipeline import apply_batch
from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA


def test_murmur3_matches_spark_hash(spark):
    """The driver-side token search assumes _murmur3_int == F.hash for
    IntegerType — bit-exact, including negatives and extremes."""
    vals = list(range(-40, 300)) + [2**31 - 1, -(2**31), 123456789]
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v int")
        .select("v", F.hash("v").alias("h"))
        .collect()
    )
    for r in rows:
        assert r["h"] == _murmur3_int(r["v"]), r["v"]


def test_spread_tokens_bijective():
    for n in (1, 2, 7, 16, 32, 33, 64):
        toks = _spread_tokens(n)
        assert len(toks) == n
        assert sorted(_murmur3_int(t) % n for t in toks) == list(range(n))


def test_spread_expr_one_bucket_per_partition(spark):
    """After repartition(n, spread_token) every bucket occupies its own
    shuffle partition — no collisions, no empty slots."""
    n = 32
    df = (
        spark.range(10_000)
        .select((F.col("id") % n).cast("int").alias(BUCKET_COL))
        .withColumn(SPREAD_COL, _spread_expr(list(range(n)), n))
        .repartition(n, F.col(SPREAD_COL))
        .select(BUCKET_COL, F.spark_partition_id().alias("p"))
        .distinct()
        .collect()
    )
    part_of = {}
    for r in df:
        part_of.setdefault(r[BUCKET_COL], set()).add(r["p"])
    assert all(len(ps) == 1 for ps in part_of.values())
    assert len({next(iter(ps)) for ps in part_of.values()}) == n


def test_spread_expr_sparse_and_dead(spark):
    """Sparse bucket subsets (partial compaction) and the dead-letter
    pseudo-bucket each get their own partition."""
    touched = [3, 11, 28]
    df = (
        spark.createDataFrame(
            [(b,) for b in touched + [DEAD_BUCKET]], f"{BUCKET_COL} int"
        )
        .withColumn(
            SPREAD_COL,
            _spread_expr(touched, len(touched) + 1, dead_token=True),
        )
        .repartition(len(touched) + 1, F.col(SPREAD_COL))
        .select(BUCKET_COL, F.spark_partition_id().alias("p"))
        .collect()
    )
    parts = {r[BUCKET_COL]: r["p"] for r in df}
    assert len(set(parts.values())) == len(touched) + 1


BUCKET_SETS = {
    "dense": (list(range(32)), False),
    "sparse": ([3, 5, 11, 17, 28], False),
    "dense+dead": (list(range(32)), True),
    "sparse+dead": ([3, 5, 11, 17, 28], True),
}


@pytest.mark.parametrize("n_parts", [1, 3, 4, 8, 32, 33])
@pytest.mark.parametrize("kind", sorted(BUCKET_SETS))
def test_spread_expr_packs_buckets_evenly(spark, n_parts, kind):
    """With fewer partitions than buckets, each bucket still falls in
    exactly one partition, and per-partition bucket counts differ by
    at most one (empty partitions included)."""
    ids, dead = BUCKET_SETS[kind]
    rows = ids + ([DEAD_BUCKET] if dead else [])
    got = (
        spark.createDataFrame([(b,) for b in rows * 3], f"{BUCKET_COL} int")
        .withColumn(SPREAD_COL, _spread_expr(ids, n_parts, dead_token=dead))
        .repartition(n_parts, F.col(SPREAD_COL))
        .select(BUCKET_COL, F.spark_partition_id().alias("p"))
        .distinct()
        .collect()
    )
    part_of: dict[int, set[int]] = {}
    for r in got:
        part_of.setdefault(r[BUCKET_COL], set()).add(r["p"])
    assert sorted(part_of) == sorted(rows)
    assert all(len(ps) == 1 for ps in part_of.values()), part_of
    load = [0] * n_parts
    for ps in part_of.values():
        load[next(iter(ps))] += 1
    assert max(load) - min(load) <= 1, load


def test_spread_expr_sparse_domain_is_one_lookup(spark):
    """A sparse domain (a partial compaction's touched buckets) indexes
    the token array by bucket id like a dense one: each bucket lands at
    its rank mod P, and the plan holds no per-bucket CASE chain."""
    ids = list(range(1, 8192, 2))
    n_parts = 8
    df = (
        spark.createDataFrame([(b,) for b in ids], f"{BUCKET_COL} int")
        .withColumn(SPREAD_COL, _spread_expr(ids, n_parts))
    )
    plan = df._jdf.queryExecution().analyzed().toJSON()
    assert "expressions.ElementAt" in plan
    assert "expressions.CaseWhen" not in plan
    got = (
        df.repartition(n_parts, F.col(SPREAD_COL))
        .select(BUCKET_COL, F.spark_partition_id().alias("p"))
        .collect()
    )
    assert len(got) == len(ids)
    part_of = {r[BUCKET_COL]: r["p"] for r in got}
    assert part_of == {b: r % n_parts for r, b in enumerate(ids)}


def test_place_buckets_sizes_to_task_slots(spark):
    """P = min(#buckets (+1 dead), defaultParallelism)."""
    slots = spark.sparkContext.defaultParallelism
    df = spark.range(100).select(
        (F.col("id") % 32).cast("int").alias(BUCKET_COL)
    )
    assert _place_buckets(df, list(range(32))).rdd.getNumPartitions() == min(
        32, slots
    )
    # callers place only the buckets their rows hold
    assert _place_buckets(
        df.filter(F.col(BUCKET_COL).isin(3, 11)), [3, 11], dead_token=True
    ).rdd.getNumPartitions() == min(3, slots)


# ---- layout and plan of the packed writes --------------------------------

KEYS = ["conv_id", "turn_idx"]
SRC_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "ts timestamp, lsn long, op string"
)


def _batch(spark, tmp_path, name, lsn0, n):
    rows = [
        (f"c{i % 700}", (i // 700) % 5, "user", f"t{i}", None, lsn0 + i,
         "I" if i < 700 * 5 else "U")
        for i in range(n)
    ]
    # a few dead letters ride the fused merge as the pseudo-bucket
    rows += [(None, 0, "user", "dead", None, lsn0 + n + j, "I")
             for j in range(3)]
    path = str(tmp_path / name)
    spark.createDataFrame(rows, SRC_SCHEMA).write.mode("overwrite").parquet(
        path
    )
    return spark.read.parquet(path)


def _write_plan(spark, dir_prefix):
    """The initial physical plan tree of the latest write into a
    ``dir_prefix``-* dir, read from the SQL status store (the plan the
    write command actually ran, V1Writes' sort included)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
    ]
    plans = [
        p for p in plans
        if "InsertIntoHadoopFsRelationCommand" in p and f"/{dir_prefix}-" in p
    ]
    assert plans, f"no write into {dir_prefix}-* recorded"
    tree = plans[-1].split("\n\n", 1)[0]
    if "== Initial Plan ==" in tree:
        tree = tree.split("== Initial Plan ==", 1)[1]
    return tree


def _count_nodes(tree, name):
    return len(re.findall(rf"(?<![A-Za-z]){name} \(", tree))


def _files_per_bucket(out_dir):
    return {
        os.path.basename(d): len(
            [f for f in os.listdir(d) if f.endswith(".parquet")]
        )
        for d in glob.glob(os.path.join(out_dir, f"{BUCKET_COL}=*"))
    }


@pytest.fixture()
def packed_table(spark, tmp_path):
    t = MiniLakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, key_cols=KEYS,
        n_buckets=32, write_mode="mor",
    )
    apply_batch(t, _batch(spark, tmp_path, "b0", 0, 5_000), 0)
    apply_batch(t, _batch(spark, tmp_path, "b1", 10_000, 5_000), 1)
    return t


def test_packed_merge_one_file_per_bucket_one_sort(spark, packed_table):
    t = packed_table
    commits = sorted(glob.glob(os.path.join(t.data_dir, "commit-*")))
    assert len(commits) == 2
    for c in commits:
        per_bucket = _files_per_bucket(c)
        assert len(per_bucket) == 32, per_bucket
        assert set(per_bucket.values()) == {1}, per_bucket
    plan = _write_plan(spark, "commit")
    assert _count_nodes(plan, "Exchange") == 1, plan
    assert _count_nodes(plan, "Sort") == 1, plan


def test_packed_compaction_layout_and_plan(spark, packed_table):
    t = packed_table
    before = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()
    }
    t.compact()
    plan = _write_plan(spark, "compact")
    assert _count_nodes(plan, "Exchange") == 1, plan
    assert _count_nodes(plan, "Sort") == 1, plan
    (out,) = glob.glob(os.path.join(t.data_dir, "compact-*"))
    per_bucket = _files_per_bucket(out)
    assert len(per_bucket) == 32 and set(per_bucket.values()) == {1}
    for f in glob.glob(os.path.join(out, f"{BUCKET_COL}=*", "*.parquet")):
        keys = pq.read_table(f, columns=["conv_id"]).column(0).to_pylist()
        assert keys == sorted(keys), f
    after = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.read().collect()
    }
    assert after == before and len(after) == 700 * 5


def test_packed_read_folds_like_compaction(spark, packed_table):
    """An LWW-folding read of live deltas (32 buckets, two delta dirs
    each) coalesces its 64-file scan to the task slots and folds inside
    the bucket packing: one Exchange, no stage wider than the slots."""
    t = packed_table
    # both batches carry the same texts; per key the last (highest-LSN)
    # row of a batch wins
    expected = {(f"c{i % 700}", (i // 700) % 5): f"t{i}" for i in range(5_000)}
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    group = "spread-packed-read"
    sc.setJobGroup(group, "packed LWW read")
    try:
        df = t.read()
        got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in df.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == expected
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    ).split("\n\n", 1)[0]
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==", 1)[1]
    assert _count_nodes(plan, "Exchange") == 1, plan
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(s)
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    widths = [s.numTasks for s in stages if s is not None]
    assert widths and max(widths) <= slots, widths
