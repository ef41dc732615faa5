"""Last-writer-wins reduction — the CDC core operator.

Generalizes the reference's whole-row dedup (keep first occurrence,
/root/reference/utils/transform.py:224-231) to per-key **last-writer-wins
by LSN** (order-critical, BASELINE.json north_rule): for each
``(conv_id, turn_idx)`` keep the event with the highest ``lsn``.

Physical strategy — scale notes:

- ``max(struct(lsn, *payload))`` group aggregation, NOT a
  ``row_number`` window. The struct buffer holds strings, so it has no
  fixed-width layout and Spark plans it as a partial + final
  **SortAggregate**, not a hash aggregation. On unclustered input the
  partial runs before the shuffle, so each input partition collapses
  its local duplicates per key before anything crosses the wire — at
  10^10 events with heavy per-key update traffic that is the
  difference between shuffling 10^10 rows and ~|distinct keys| rows.
  The lake's merge and compaction folds run on input already clustered
  by the bucket Exchange, so there both aggregates sit after it, over
  one sort on the group keys that the bucket-partitioned write reuses.
- Partial aggregation is also a skew defense on unclustered input: a
  hot ``conv_id`` collapses to ≤1 row per map task before the shuffle.
  The explicit **salted two-phase** variant exists for the adversarial
  case (one hot key spread across thousands of map tasks whose partials
  still all land on one reducer) and per north_rule's explicit-skew-
  handling requirement.
- MERGE-source uniqueness: downstream MERGE requires ≤1 source row per
  target key (Iceberg throws on multiple matches) — this reduce is
  correctness-critical, not an optimization (SURVEY.md §7).
- Duplicate delivery (same lsn twice, identical rows) collapses here
  too: ties on ``lsn`` pick an arbitrary winner among identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def lww_reduce(
    df: DataFrame,
    keys: list[str],
    order_col: str = "lsn",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """One row per key: the payload of the highest-``order_col`` event.

    Output columns: ``keys + payload_cols + [order_col]``.
    """
    if payload_cols is None:
        payload_cols = [c for c in df.columns if c not in keys and c != order_col]
    # max(struct(order, payload...)) — lexicographic struct ordering with
    # the unique order column first is exactly max_by, but measured ~3x
    # faster (2M rows: 5.2s vs 16.0s) — MaxBy keeps two aggregation
    # buffers and re-evaluates the ordering expr per row, while Max over
    # a struct short-circuits on the first field. Ties (duplicate
    # delivery: same lsn) continue into the payload, which is identical
    # by construction, so the result is unchanged.
    winner = F.max(
        F.struct(F.col(order_col).alias("_ord"), *[F.col(c) for c in payload_cols])
    )
    agg = df.groupBy(*keys).agg(winner.alias("_w"))
    return agg.select(
        *keys,
        *[F.col("_w")[c].alias(c) for c in payload_cols],
        F.col("_w._ord").alias(order_col),
    )


def lww_reduce_with_lineage(
    df: DataFrame,
    keys: list[str],
    order_col: str = "_lsn",
    payload_cols: list[str] | None = None,
    deleted_col: str = "_deleted",
    birth_col: str = "_birth_lsn",
    tomb_col: str = "_tomb_lsn",
) -> DataFrame:
    """LWW reduce that also maintains per-key ROW LINEAGE summaries —
    the Iceberg v3 row-lineage analog (``_row_id`` /
    ``_last_updated_sequence_number``, re-expressed in LSN space so it
    is oracle-checkable against the change stream itself):

    - ``birth_col``: the LSN of the event that created the key's
      CURRENT live incarnation — min live LSN strictly above the last
      tombstone. Updates preserve it; a delete followed by a re-insert
      resets it (a re-inserted key is a NEW row, per Iceberg). NULL
      when the key's winner is a tombstone.
    - ``tomb_col``: the highest delete LSN folded into this summary,
      carried in the output so summaries stay ASSOCIATIVE: folding
      folded rows with later raw events (delta pre-reduce → compaction
      → read) keeps lineage exact without retaining loser events.

    Input rows are either raw change events (no ``birth_col`` /
    ``tomb_col``, or NULL — each event is its own singleton summary:
    birth = own LSN if live, tomb = own LSN if delete) or previously
    folded summaries (columns present). Exact under the WAL contract
    that cross-fold delivery is LSN-ordered (each fold sees every
    event of the segments it summarizes); a late event arriving BELOW
    an already-folded segment's tombstone is resolved commit-ordered,
    exactly like Iceberg's lineage (pinned in tests).

    Physical strategy: one key-partitioned window (max tombstone per
    key) + the same sort aggregation as :func:`lww_reduce`, both inside
    ONE Exchange on the grouping keys — the aggregation reuses the
    window's sort on the keys, so neither adds a shuffle. Losing events
    never cross a fold boundary, so the summary is O(live keys) like the
    LWW state itself.

    Output: ``keys + payload_cols + [order_col, birth_col, tomb_col]``.
    """
    from pyspark.sql.window import Window

    if payload_cols is None:
        payload_cols = [
            c
            for c in df.columns
            if c not in keys and c not in (order_col, birth_col, tomb_col)
        ]
    bc = (
        F.col(birth_col)
        if birth_col in df.columns
        else F.lit(None).cast("long")
    )
    tc = (
        F.col(tomb_col)
        if tomb_col in df.columns
        else F.lit(None).cast("long")
    )
    src = df.withColumn("_bc", F.coalesce(bc, F.col(order_col))).withColumn(
        # greatest() skips nulls: a raw delete contributes its own LSN,
        # a folded summary its carried tombstone, a raw live event null
        "_tc",
        F.greatest(
            F.when(F.col(deleted_col), F.col(order_col)), tc
        ),
    )
    w = Window.partitionBy(*keys)
    src = src.withColumn("_tm", F.max("_tc").over(w))
    live = (~F.col(deleted_col)) & (
        F.col("_tm").isNull() | (F.col(order_col) > F.col("_tm"))
    )
    # a live row's birth candidate: its carried birth if that birth is
    # itself above the key's tombstone, else the row's own LSN (the
    # carried birth belongs to a killed earlier incarnation)
    birth_cand = F.when(
        live,
        F.when(
            F.col("_tm").isNull() | (F.col("_bc") > F.col("_tm")),
            F.col("_bc"),
        ).otherwise(F.col(order_col)),
    )
    winner = F.max(
        F.struct(
            F.col(order_col).alias("_ord"),
            *[F.col(c) for c in payload_cols],
        )
    )
    agg = src.groupBy(*keys).agg(
        winner.alias("_w"),
        F.min(birth_cand).alias(birth_col),
        F.max("_tc").alias(tomb_col),
    )
    return agg.select(
        *keys,
        *[F.col("_w")[c].alias(c) for c in payload_cols],
        F.col("_w._ord").alias(order_col),
        F.col(birth_col),
        F.col(tomb_col),
    )


def lww_reduce_salted(
    df: DataFrame,
    keys: list[str],
    order_col: str = "lsn",
    payload_cols: list[str] | None = None,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Explicit two-phase salted LWW for adversarial key skew.

    Phase 1 groups by ``(keys..., salt)`` where the salt spreads one hot
    key over ``n_salts`` reducers; phase 2 reduces the ≤``n_salts``
    partials per key. Same result as :func:`lww_reduce` (property-tested);
    trades one extra (tiny) shuffle for bounded reducer fan-in.

    The salt is derived from ``order_col`` (deterministic, uniform across
    a key's events) — NOT random, so retries/replays salt identically.
    """
    if payload_cols is None:
        payload_cols = [c for c in df.columns if c not in keys and c != order_col]
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(order_col)), F.lit(n_salts)))
    partial = lww_reduce(salted, keys + ["_salt"], order_col, payload_cols)
    return lww_reduce(partial.drop("_salt"), keys, order_col, payload_cols)


def detect_hot_keys(
    df: DataFrame,
    keys: list[str],
    threshold_fraction: float = 0.05,
    sample_fraction: float = 0.01,
    min_sample_rows: int = 10_000,
) -> bool:
    """Cheap per-batch skew probe: sample the batch and check whether any
    single key exceeds ``threshold_fraction`` of sampled rows. Used by the
    apply path to switch to the salted reduce. Sampling keeps the probe
    O(sample) — never a full count-by-key of the batch.
    """
    sample = df.sample(fraction=sample_fraction, seed=7)
    counts = (
        sample.groupBy(*keys)
        .count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("total"))
        .collect()[0]
    )
    if not counts["total"] or counts["total"] < min_sample_rows:
        return False
    return (counts["mx"] / counts["total"]) >= threshold_fraction
