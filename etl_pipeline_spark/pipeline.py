"""The per-micro-batch apply path — validate → clean → evolve → LWW →
MERGE → lineage.

This is the engine's generalization of the reference's
extract→transform→load pass (/root/reference/main.py:228-264), executed
once per micro-batch inside ``foreachBatch`` (or the bounded replay
driver). Stage order mirrors the reference's observable order
(strip → filter → dedup → cast, transform.py:281-297) where it matters.

Scale shape per batch (10^10-event design), merge-on-read mode:
  ONE Spark job — Parquet scan (pruned) → Observation counters →
  dead-letter split → vectorized cleaning (Arrow pandas UDF) → bucket
  hash → shuffle to buckets → delta write — plus a driver-side atomic
  manifest commit and one lineage record. Per-batch driver overhead
  (planning + codegen + scheduling) was profiled at ~1.2s per Spark
  job; collapsing counters/discovery/stats jobs into the write's
  Observation is what makes small-batch throughput scale with cores.
  Copy-on-write mode adds the current-state union + LWW shuffle.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.cleaning import clean_text_pudf
from .lake.lineage import LineageLog
from .lake.minilake import (
    DELETED_COL,
    FENCES_PROP,
    LSN_COL,
    RAW_COL,
    SRC_OP_COL,
    MergeResult,
    MiniLakeTable,
)
from .operators.lww import detect_hot_keys, lww_reduce, lww_reduce_salted
from .operators.validate import split_valid, valid_predicate
from .schema import KEY_COLS, write_default

# a batch is salted when one key holds at least this share of the skew
# probe's sample
SKEW_THRESHOLD = 0.05
# The skew probe is a sampling job of its own: only batches whose input
# files add up to this many bytes are probed (smaller batches cannot hurt
# enough to pay for it; in-memory frames have no size estimate and are
# never probed).
SKEW_PROBE_MIN_BYTES = 64 * 1024 * 1024
# Probe cadence per stream when the ingest loop threads a ``skew_memo``
# through: the probe job re-runs every Nth applied batch and its verdict
# is reused in between (skew is a property of the STREAM — a hot conv_id
# stays hot across micro-batches — so re-scanning every batch bought
# nothing; measured ~0.8 s/batch at local[16], ~15% of steady batch wall).
# A direct apply_batch call with no memo probes every batch. Worst case on
# skew ONSET mid-stream: up to N-1 batches merge unsalted — the merge's
# LWW fold stays correct, only its balance suffers until the next probe.
SKEW_PROBE_EVERY = 4


@dataclass
class ApplyConfig:
    key_cols: list[str] = field(default_factory=lambda: list(KEY_COLS))
    lsn_col: str = "lsn"
    op_col: str = "op"
    clean_cols: tuple[str, ...] = ("text",)
    auto_compact_max_files: int = 12  # MOR delta-chain fold threshold; 0 = off
    dead_letter_dir: str | None = None  # default: <table_root>/_deadletter
    assert_unique_keys: bool = False
    # "batch" (default): batch-level counters only, collected by
    #   Observation during the merge write itself — zero extra jobs.
    # "full": opt-in; one extra aggregation job per batch for exact
    #   per-source-partition offset ranges in lineage.
    lineage_level: str = "batch"


def _normalize_dead_letters(
    dead: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    types_by_name: dict,
    lsn_col: str,
    op_col: str,
) -> DataFrame:
    """Project a raw dead-letter frame onto the DLQ contract the fused
    writer (MiniLakeTable.merge) emits: key/payload columns try-cast to
    table types, plus ``_lsn``, ``_deleted``, ``_src_op`` and the full
    untouched source row as ``_raw`` JSON. One schema across fused and
    legacy batch subdirs. The cast caveat lives in ``_raw``: a value
    that fails the table-type cast reads as null in its typed column but
    stays intact inside ``_raw``."""
    raw = F.to_json(F.struct(*[F.col(c) for c in dead.columns]))
    return dead.select(
        *[F.col(k).try_cast(types_by_name[k]).alias(k) for k in key_cols],
        *[
            (
                F.col(c) if c in dead.columns else F.lit(None)
            ).try_cast(types_by_name[c]).alias(c)
            for c in payload_cols
        ],
        F.col(lsn_col).try_cast("long").alias(LSN_COL),
        F.coalesce(F.col(op_col) == "D", F.lit(False)).alias(DELETED_COL),
        F.col(op_col).cast("string").alias(SRC_OP_COL),
        raw.alias(RAW_COL),
    )


def _estimate_batch_bytes(df: DataFrame) -> int | None:
    try:
        files = df.inputFiles()
        if not files:
            return None
        return sum(
            os.path.getsize(f.removeprefix("file:")) for f in files
        )
    except Exception:
        return None


def _probe_skew(
    batch_df: DataFrame,
    key_cols: list[str],
    batch_id: int,
    stream_id: str,
    skew_memo: dict | None,
) -> bool:
    """Whether the batch has a hot key (→ salted reduce). Probes the RAW
    batch frame, not the cleaned source: keys are untouched by cleaning,
    and probing downstream would re-run scan + pandas-UDF cleaning for
    exactly the large batches where that hurts most."""
    est_bytes = _estimate_batch_bytes(batch_df)
    if est_bytes is None or est_bytes < SKEW_PROBE_MIN_BYTES:
        return False
    if skew_memo is None or SKEW_PROBE_EVERY <= 1:
        return detect_hot_keys(batch_df, key_cols, SKEW_THRESHOLD)
    # Sticky probe: an ingest loop replaying one stream passes a per-run memo.
    # Thread-safe enough for the pipelined replay: dict get/set are atomic
    # and a stale verdict is only a balance heuristic.
    ent = skew_memo.get(stream_id)
    if ent is not None and batch_id - ent[0] < SKEW_PROBE_EVERY:
        return ent[1]
    salted = detect_hot_keys(batch_df, key_cols, SKEW_THRESHOLD)
    skew_memo[stream_id] = (batch_id, salted)
    return salted


def apply_batch(
    table: MiniLakeTable,
    batch_df: DataFrame,
    batch_id: int,
    cfg: ApplyConfig | None = None,
    lineage: LineageLog | None = None,
    stream_id: str = "default",
    pre_commit=None,
    skew_memo: dict | None = None,
    to_branch: str | None = None,
) -> MergeResult:
    """Apply one change-event micro-batch exactly once (within the
    ``stream_id`` source lineage; cross-lineage redelivery is made
    harmless by the idempotent LWW merge).

    ``to_branch`` targets a branch ref instead of main (audited
    backfill: ingest a whole stream onto a branch, inspect with
    ``read(branch=...)``, publish with ``fast_forward`` /
    ``cherry_pick_branch``). Fencing is branch-local; dead-letter
    FUSION is off on branches (merge forbids riders on a staged write),
    so dirty batches take the legacy second-scan path — quarantine
    semantics are unchanged. Incompatible with ``pre_commit``
    pipelining."""
    cfg = cfg or ApplyConfig()
    lineage = lineage or LineageLog(table.root)
    t0 = time.time()

    # 0. Fence first — a replayed batch must cost nothing but a manifest read.
    if to_branch is not None:
        highwater = table.branch_fences(to_branch).get(stream_id, -1)
    else:
        highwater = table.snapshot_props().get(FENCES_PROP, {}).get(
            stream_id, -1
        )
    if batch_id <= highwater:
        res = MergeResult(
            skipped=True,
            reason="fenced",
            version=table.current_version(),
            snapshot_id=table.manifest()["snapshot_id"],
        )
        lineage.append(
            {"batch_id": batch_id, "stream_id": stream_id,
             "skipped_fenced": True, "version": res.version}
        )
        return res

    required = [*cfg.key_cols, cfg.lsn_col, cfg.op_col]
    missing_req = [c for c in required if c not in batch_df.columns]
    if missing_req:
        raise ValueError(
            f"change batch is missing required column(s) {missing_req}; "
            f"a change event needs keys {list(cfg.key_cols)}, an ordering "
            f"column '{cfg.lsn_col}' and an op column '{cfg.op_col}' "
            f"(got: {batch_df.columns})"
        )

    is_valid = F.coalesce(valid_predicate(cfg.key_cols, cfg.op_col), F.lit(False))
    counter_aggs = [
        F.count(F.lit(1)).alias("events"),
        F.min(cfg.lsn_col).alias("lsn_min"),
        F.max(cfg.lsn_col).alias("lsn_max"),
        F.sum(F.when(F.col(cfg.op_col) == "I", 1).otherwise(0)).alias("n_i"),
        F.sum(F.when(F.col(cfg.op_col) == "U", 1).otherwise(0)).alias("n_u"),
        F.sum(F.when(F.col(cfg.op_col) == "D", 1).otherwise(0)).alias("n_d"),
        F.sum(F.when(~is_valid, 1).otherwise(0)).alias("n_dead"),
    ]

    # 1. Counters. "full" = dedicated aggregation job with exact
    #    per-source-partition offset ranges; "batch" = Observation piggy-
    #    backed on the merge write (no extra job, batch-level only).
    part_ranges: list[dict] = []
    obs: Observation | None = None
    upstream = batch_df
    if cfg.lineage_level == "full":
        part_key = (
            F.col("source_part")
            if "source_part" in batch_df.columns
            else F.lit(None).cast("int")
        )
        part_rows = (
            batch_df.groupBy(part_key.alias("source_part"))
            .agg(*counter_aggs)
            .collect()
        )
        c = {
            "events": sum(r["events"] for r in part_rows),
            "n_dead": sum(r["n_dead"] or 0 for r in part_rows),
            "n_i": sum(r["n_i"] or 0 for r in part_rows),
            "n_u": sum(r["n_u"] or 0 for r in part_rows),
            "n_d": sum(r["n_d"] or 0 for r in part_rows),
            "lsn_min": min(
                (r["lsn_min"] for r in part_rows if r["lsn_min"] is not None),
                default=None,
            ),
            "lsn_max": max(
                (r["lsn_max"] for r in part_rows if r["lsn_max"] is not None),
                default=None,
            ),
        }
        part_ranges = [
            {
                "source_part": r["source_part"],
                "lsn_min": r["lsn_min"],
                "lsn_max": r["lsn_max"],
                "events": r["events"],
            }
            for r in part_rows
        ]
    else:
        obs = Observation()
        upstream = batch_df.observe(obs, *counter_aggs)

    # Routing first: it decides whether the dead-letter split can be
    # FUSED into the merge write (one Spark job, one source scan) or needs
    # the legacy separate-job write. The minilake MERGE resolves LWW
    # itself (MOR bucket-clusters + reduces inside its one delta-write
    # shuffle, COW reduces across {current ∪ batch}), so a pipeline
    # pre-reduce is only for a backend whose MERGE cannot take multiple
    # source rows per key (real Iceberg MERGE INTO raises on multi-match):
    # it declares requires_unique_source=True and always gets one.
    must_reduce = getattr(table, "requires_unique_source", False)
    # A table whose merge must see every event of the batch (see
    # MiniLakeTable.needs_every_event) is never pre-collapsed, so it is
    # never probed either.
    if getattr(table, "needs_every_event", False):
        if must_reduce:
            raise ValueError(
                "per-event merge semantics (partial/agg engine, dead_letter "
                "constraint, row lineage) are unsupported on backends that "
                "require a unique-key MERGE source"
            )
        salted = False
    else:
        salted = _probe_skew(batch_df, cfg.key_cols, batch_id, stream_id,
                             skew_memo)
    # Dead-letter fusion (MOR minilake, un-salted, un-pre-reduced — the
    # hot replay path): dead rows ride the merge's one delta-write job in
    # a relocatable pseudo-bucket instead of a second O(batch) source
    # re-scan per dirty batch. Salted / pre-reduced batches pre-collapse
    # the valid side in the pipeline, which forks the plan before the
    # shared exchange — those keep the legacy separate write. The COW
    # path keeps it too, but its second split_valid scan is absorbed by
    # the merge's persist() of the batch frame — no extra source I/O.
    fuse_dead = (
        not salted
        and not must_reduce
        and to_branch is None  # merge forbids DLQ riders on branch writes
        and getattr(table, "supports_dead_letter_fusion", False)
    )

    # 2 + 3. Dead-letter split + vectorized cleaning on the after-image
    #    payload. Fused: no split — one tagged frame flows to the merge,
    #    cleaning applied to valid rows only (dead letters keep their
    #    RAW payload for forensics). Legacy: filter twice; dead letters
    #    taken from the RAW frame so writing them later cannot re-fire
    #    the Observation node.
    if fuse_dead:
        valid = upstream
        dead = None
        for c_name in cfg.clean_cols:
            if c_name in valid.columns:
                valid = valid.withColumn(
                    c_name,
                    F.when(is_valid, clean_text_pudf(F.col(c_name))).otherwise(
                        F.col(c_name)
                    ),
                )
    else:
        valid, _ = split_valid(upstream, cfg.key_cols, cfg.op_col)
        _, dead = split_valid(batch_df, cfg.key_cols, cfg.op_col)
        for c_name in cfg.clean_cols:
            if c_name in valid.columns:
                valid = valid.withColumn(c_name, clean_text_pudf(F.col(c_name)))

    # 4. In-flight additive schema evolution: payload columns the table
    #    doesn't know yet → ALTER TABLE ADD COLUMN before the merge.
    #    Diffed per batch, never cached at stream start (the stream
    #    outlives the schema change — SURVEY.md §7).
    table_cols = {f.name for f in table.schema().fields}
    reserved = {cfg.lsn_col, cfg.op_col, "source_part"}
    batch_payload_fields = [
        f
        for f in batch_df.schema.fields
        if f.name not in table_cols and f.name not in reserved
        and not f.name.startswith("_")
    ]
    if batch_payload_fields:
        if to_branch is not None:
            # branch writes resolve against the branch's BASE snapshot
            # schema; evolving main mid-backfill would silently drop the
            # new column from every branch commit. Fail loud instead.
            raise ValueError(
                "in-flight schema evolution during a branch backfill is "
                f"unsupported (new column(s) "
                f"{[f.name for f in batch_payload_fields]}): evolve main "
                "first and re-create the branch"
            )
        table.add_columns(
            [T.StructField(f.name, f.dataType, True) for f in batch_payload_fields]
        )

    # 5. LWW pre-reduce: salted on a hot-key batch, plain for a
    #    unique-source backend, none otherwise (the merge folds).
    tschema = table.schema()
    types_by_name = {f.name: f.dataType for f in tschema.fields}
    payload_cols = [f.name for f in tschema.fields if f.name not in cfg.key_cols]
    fields_by_name = {f.name: f for f in tschema.fields}
    src = valid.select(
        *cfg.key_cols,
        *[
            (
                F.col(c)
                if c in valid.columns
                # writer-omitted column: write-default if declared
                # (Iceberg v3), else typed null — mirrors the merge's
                # own fill so both entry points agree
                else F.lit(write_default(fields_by_name[c])).cast(
                    types_by_name[c]
                )
            ).alias(c)
            for c in payload_cols
        ],
        cfg.lsn_col,
        cfg.op_col,
        *([is_valid.alias("_valid")] if fuse_dead else []),
    )
    if salted:
        reduced = lww_reduce_salted(
            src, keys=cfg.key_cols, order_col=cfg.lsn_col,
            payload_cols=payload_cols + [cfg.op_col],
        )
    elif must_reduce:
        reduced = lww_reduce(
            src, keys=cfg.key_cols, order_col=cfg.lsn_col,
            payload_cols=payload_cols + [cfg.op_col],
        )
    else:
        reduced = src  # merge resolves per-key LWW itself

    # 6. MERGE (atomic snapshot commit, fenced). In MOR mode this is the
    #    batch's ONE Spark job; the Observation fires inside it, and with
    #    fusion the dead letters are written by it too.
    dl_dir = cfg.dead_letter_dir or os.path.join(table.root, "_deadletter")
    fuse_kwargs = (
        {
            "valid_col": "_valid",
            "dead_sink": os.path.join(dl_dir, f"batch-{batch_id:06d}"),
        }
        if fuse_dead
        else {}  # only fusion-capable backends see the new kwargs
    )
    res = table.merge(
        reduced,
        batch_id=batch_id,
        stream_id=stream_id,
        lsn_col=cfg.lsn_col,
        op_col=cfg.op_col,
        assert_unique_keys=cfg.assert_unique_keys and (salted or must_reduce),
        pre_commit=pre_commit,
        # only branch-capable backends see the kwarg (same pattern as
        # fuse_kwargs — the real-Iceberg wrapper has no branch writes)
        **({"to_branch": to_branch} if to_branch is not None else {}),
        **fuse_kwargs,
    )

    if obs is not None:
        if res.skipped and res.reason == "fenced":
            # merge fenced out without running a job (concurrent-writer
            # race) → the Observation never fired; obs.get would block.
            c = {"events": 0, "n_dead": 0, "n_i": 0, "n_u": 0, "n_d": 0,
                 "lsn_min": None, "lsn_max": None}
        else:
            # ran (or "empty"-skipped AFTER an action) → metrics are real
            try:
                c = obs.get
            except Exception:
                # AQE empty-relation propagation can eliminate the
                # CollectMetrics node when the whole batch plans down to
                # an empty relation (e.g. every event dead-lettered) —
                # the commit is fine, only the piggybacked counters are
                # gone. Recount directly; this degenerate batch is the
                # one case where the extra job is cheap by construction.
                c = batch_df.agg(*counter_aggs).collect()[0]

    events_in = int(c["events"] or 0)
    dead_count = int(c["n_dead"] or 0)

    # 7. Dead letters — fused mode already wrote them inside the merge
    #    job; legacy mode writes a separate job only when counters saw
    #    any, normalized to the SAME physical schema as the fused
    #    pseudo-bucket files so a consumer reads the whole _deadletter
    #    tree as one frame.
    if dead_count and not fuse_dead:
        _normalize_dead_letters(
            dead, cfg.key_cols, payload_cols, types_by_name,
            cfg.lsn_col, cfg.op_col,
        ).write.mode("append").parquet(
            os.path.join(dl_dir, f"batch-{batch_id:06d}")
        )

    compacted = (
        table.maybe_compact(cfg.auto_compact_max_files)
        if cfg.auto_compact_max_files
        else None
    )

    wall = time.time() - t0
    lineage.append(
        {
            "batch_id": batch_id,
            "stream_id": stream_id,
            "skipped_fenced": res.skipped,
            "events_in": events_in,
            "dead_lettered": dead_count,
            "applied": {
                "I": int(c["n_i"] or 0),
                "U": int(c["n_u"] or 0),
                "D": int(c["n_d"] or 0),
            },
            "offset_range": {
                "lsn_min": int(c["lsn_min"]) if c["lsn_min"] is not None else None,
                "lsn_max": int(c["lsn_max"]) if c["lsn_max"] is not None else None,
            },
            "source_partitions": part_ranges,
            "salted_reduce": bool(salted),
            "buckets_touched": res.buckets_touched,
            "compacted_to_version": compacted,
            "commit_version": res.version,
            "commit_snapshot_id": res.snapshot_id,
            "wall_ms": round(wall * 1000, 2),
            "events_per_sec": round(events_in / wall, 1) if wall > 0 else None,
        }
    )
    res.wall_ms = wall * 1000
    return res


def requeue_dead_letters(
    spark,
    table: MiniLakeTable,
    repair=None,
    dead_dir: str | None = None,
    stream_id: str = "dlq-requeue",
    batch_id: int = 0,
    cfg: ApplyConfig | None = None,
    lineage: LineageLog | None = None,
    archive: bool = True,
) -> MergeResult:
    """Close the failure-isolation loop: poison-pill recovery.

    Reads the dead-letter tree (the normalized DLQ contract — typed
    columns + ``_lsn``/``_src_op``/``_deleted``/``_raw``), applies the
    caller's ``repair`` (DataFrame → change-event-shaped DataFrame:
    keys + payload + ``lsn`` + ``op``; default: retry the typed row
    as-is with ``_src_op`` as the op — covers failures fixed upstream,
    e.g. a schema evolution that has since landed), and re-ingests the
    result through the SAME validate → clean → LWW → MERGE pipeline as
    any other batch, exactly-once under its own ``stream_id`` lineage.

    Failure-isolation invariants hold through the requeue:

    - rows the repair could NOT fix fail validation again and land back
      in the DLQ under this requeue's batch dir — never silently
      dropped, never crashing the batch;
    - re-delivery is harmless: the requeue lineage is fenced by
      ``batch_id``, and even a cross-lineage duplicate apply is
      absorbed by the idempotent LWW merge (the same guarantee the
      main ingest relies on).

    Consumed input files are archived AFTER the commit to
    ``<table_root>/_deadletter_archive/<stream>-<batch>/`` so the next
    requeue doesn't re-read them. A crash between commit and archive
    re-delivers those files to the next requeue, which the LWW
    idempotence absorbs; a fenced re-run never archives (the files in
    the tree may by then include NEWER dead rows it did not apply).

    The reference's failure story is skip-and-log
    (/root/reference/utils/extract.py:120-188); this is that story
    grown into a recovery loop: quarantine, repair, replay, re-verify.
    """
    cfg = cfg or ApplyConfig()
    dl_dir = dead_dir or cfg.dead_letter_dir or os.path.join(
        table.root, "_deadletter"
    )
    empty = MergeResult(
        skipped=True, reason="empty",
        version=table.current_version(),
        snapshot_id=table.manifest()["snapshot_id"],
    )
    if not os.path.isdir(dl_dir):
        return empty
    dlq = (
        spark.read.option("recursiveFileLookup", "true").parquet(dl_dir)
    )
    consumed = [f.removeprefix("file:") for f in dlq.inputFiles()]
    if not consumed:
        return empty
    # DLQ files written after a column rename carry the PHYSICAL
    # on-disk names (they ride the merge's own write) — alias them back
    # to the table's logical names so repair fns and the re-ingest see
    # the schema every other surface speaks
    from .schema import physical_name

    for f in table.schema().fields:
        p = physical_name(f)
        if p != f.name and p in dlq.columns:
            dlq = dlq.withColumnRenamed(p, f.name)
    if repair is not None:
        src = repair(dlq)
    else:
        typed = [
            c for c in dlq.columns
            if c not in (LSN_COL, DELETED_COL, SRC_OP_COL, RAW_COL)
        ]
        src = dlq.select(
            *typed,
            F.col(LSN_COL).alias(cfg.lsn_col),
            F.col(SRC_OP_COL).alias(cfg.op_col),
        )
    res = apply_batch(
        table, src, batch_id, cfg=cfg, lineage=lineage, stream_id=stream_id
    )
    if archive and not res.skipped:
        arch = os.path.join(
            table.root, "_deadletter_archive", f"{stream_id}-{batch_id:06d}"
        )
        os.makedirs(arch, exist_ok=True)
        for f in consumed:
            # part-file names are globally unique (task UUIDs); a flat
            # archive dir cannot collide
            shutil.move(f, os.path.join(arch, os.path.basename(f)))
        for name in os.listdir(dl_dir):  # prune now-empty batch subdirs
            sub = os.path.join(dl_dir, name)
            if os.path.isdir(sub) and not os.listdir(sub):
                os.rmdir(sub)
    return res
