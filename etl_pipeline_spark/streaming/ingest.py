"""Streaming ingest drivers.

Two drivers share the same :func:`etl_pipeline_spark.pipeline.apply_batch`
path (the semantics live in one place):

- :func:`run_ingest_stream` — **Structured Streaming**: file source over
  the changelog dir, ``foreachBatch(apply_batch)``, checkpointed offsets,
  ``trigger(availableNow=True)`` for bounded replay / continuous triggers
  for tailing. Exactly-once = source checkpoint (offset replay) × sink
  fence (batch-id highwater in the snapshot) — either alone survives a
  crash, together they survive a crash *between* sink commit and
  checkpoint write (the classic double-apply window).
- :func:`replay_files` — bounded replay over the ordered batch files with
  **per-batch schema inference**, so a Parquet-schema birth of a new
  column (the FIXTURES.md §5 evolution fixture) is observed exactly when
  it happens in the stream, not at stream start. Resume comes from the
  sink fence alone (the lake *is* the checkpoint).

The reference analog is the page loop with skip-and-continue
(/root/reference/utils/extract.py:206-235): one page = one micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..lake.lineage import LineageLog
from ..lake.minilake import MiniLakeTable
from ..pipeline import ApplyConfig, apply_batch, new_payload_fields
from ..schema import CHANGE_EVENT_SCHEMA
from ..sources.changelog import list_batch_files, read_events, read_events_stream


class SchemaWidened(Exception):
    """A micro-batch's input files carry columns the stream's read schema
    doesn't know. Raised inside foreachBatch to fail the trigger BEFORE
    any row is applied — the driver loop restarts the query with the
    widened schema and the checkpoint re-delivers the batch, now read
    with the new column visible (the public Auto-Loader
    ``addNewColumns`` restart contract, re-implemented on the plain file
    source)."""

    def __init__(self, new_cols: list[str]):
        self.new_cols = new_cols
        super().__init__(f"schema birth detected: {new_cols}")


# Per-file footer memo: changelog batch files are immutable once
# published (append-only feed contract), so a footer read once is a
# footer known forever. This bounds the evolving driver's per-restart
# reconciliation AND the per-trigger guard on compact-log batches (whose
# metadata lists every file seen so far) to O(files NOT yet seen) footer
# fetches instead of O(all files) — the difference between milliseconds
# and minutes on a many-small-file feed.
_FOOTER_CACHE: dict[str, dict[str, T.DataType]] = {}


def _parquet_footer_fields(paths: list[str]) -> dict[str, T.DataType]:
    """Column name → Spark type union over Parquet footers. Driver-side
    pyarrow metadata reads — small footer fetches (memoized per
    immutable file), no Spark job, no data scanned. Non-parquet files
    are skipped (JSONL/CSV carry no self-describing schema; those feeds
    evolve via the declared-schema path, not footer discovery)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    out: dict[str, T.DataType] = {}
    for p in paths:
        if not p.endswith(".parquet"):
            continue
        local = p[7:] if p.startswith("file://") else p
        cached = _FOOTER_CACHE.get(local)
        if cached is None:
            cached = {}
            try:
                fields = pq.read_schema(local)
            except Exception:
                fields = None
            if fields is not None:
                for name, typ in zip(fields.names, fields.types):
                    try:
                        cached[name] = from_arrow_type(typ)
                    except Exception:
                        cached[name] = T.StringType()
                # only memoize successful reads — a torn in-flight file
                # may become readable later
                _FOOTER_CACHE[local] = cached
        for name, typ in cached.items():
            if name not in out:
                out[name] = typ
    return out


def _source_log_files(checkpoint_dir: str, batch_id: int) -> list[str]:
    """The micro-batch's input files, from the file-source metadata log
    (``<ckpt>/sources/0/<batchId>`` — a ``v1`` header plus one JSON entry
    per file). Written before the trigger runs, so it is readable inside
    foreachBatch; the micro-batch DataFrame itself reports no
    ``inputFiles()``.

    Every ``compactInterval``-th batch (default: 9, 19, …) Spark's
    CompactibleFileStreamLog writes ``<batchId>.compact`` INSTEAD of the
    plain file — it lists every file seen so far, a superset of the
    batch's own input. Footer-checking the superset is safe for the
    schema-birth guard (pre-birth files simply carry no new columns), so
    fall back to it; if neither file exists the metadata log is broken
    and silently returning [] would let a birth through unchecked —
    raise instead."""
    import json

    path = os.path.join(checkpoint_dir, "sources", "0", str(batch_id))
    if not os.path.exists(path):
        compact = path + ".compact"
        if not os.path.exists(compact):
            raise FileNotFoundError(
                f"file-source metadata log missing for batch {batch_id}: "
                f"neither {path} nor {compact} exists"
            )
        path = compact
    out = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or not line.startswith("{"):
                continue
            try:
                out.append(json.loads(line)["path"])
            except (ValueError, KeyError):
                continue
    return out


def observed_change_schema(
    changelog_dir: str, base_schema: T.StructType
) -> T.StructType:
    """``base_schema`` widened with every column the changelog's Parquet
    footers currently carry — the per-run schema reconciliation step.
    Column birth order is preserved (first-seen file order), types come
    from the footers themselves."""
    known = {f.name for f in base_schema.fields}
    discovered = _parquet_footer_fields(list_batch_files(changelog_dir))
    extra = [
        T.StructField(name, typ, True)
        for name, typ in discovered.items()
        if name not in known and not name.startswith("_")
    ]
    if not extra:
        return base_schema
    return T.StructType(list(base_schema.fields) + extra)


def run_ingest_stream_evolving(
    spark: SparkSession,
    changelog_dir: str,
    table: MiniLakeTable,
    checkpoint_dir: str,
    cfg: ApplyConfig | None = None,
    max_files_per_trigger: int | None = 1,
    initial_schema=None,
    max_restarts: int = 8,
) -> int:
    """Structured Streaming ingest that survives in-flight column birth.

    The plain file source needs one fixed read schema per query, so true
    evolution on the streaming path takes two cooperating mechanisms:

    1. **Per-run reconciliation** — before (re)starting the query, the
       changelog's Parquet footers are unioned onto the core
       change-event schema (:func:`observed_change_schema`): columns
       born while the stream was down are visible from the first
       trigger, pre-birth files project them as null.
    2. **In-trigger guard + restart-on-widen** — every micro-batch
       footer-checks its own input files (driver-side, O(batch files));
       a column the read schema doesn't know fails the trigger with
       :class:`SchemaWidened` BEFORE any row is applied, and the loop
       restarts the query from the same checkpoint with the widened
       schema. The failed trigger was never committed (sink fence +
       unadvanced checkpoint), so the batch re-delivers with the new
       column — exactly-once is preserved, and no event is ever applied
       with a silently dropped column.

    ``initial_schema`` pins the first run's read schema (tests use it to
    simulate files born after the initial reconciliation); default is
    the discovered schema. Returns the number of restarts taken.

    Core columns (``cfg.lsn_col``/``cfg.op_col``/``source_part``) and
    engine-internal ``_``-prefixed names never count as births — the
    :func:`~etl_pipeline_spark.pipeline.new_payload_fields` rule
    ``apply_batch``/``_replay_pipelined`` use.
    """
    cfg = cfg or ApplyConfig()
    lineage = LineageLog(table.root)
    stream_id = f"ckpt:{os.path.abspath(checkpoint_dir)}"
    event_payload = new_payload_fields(CHANGE_EVENT_SCHEMA.fields, (), cfg)
    core = T.StructType(
        [f for f in CHANGE_EVENT_SCHEMA.fields if f not in event_payload]
    )
    table_payload = [
        T.StructField(f.name, f.dataType, True)
        for f in table.schema().fields
    ]
    base = T.StructType(core.fields + table_payload)

    schema = initial_schema or observed_change_schema(changelog_dir, base)
    restarts = 0
    skew_memo: dict = {}  # sticky skew verdict, survives restarts-on-widen
    while True:
        known = {f.name for f in schema.fields}
        widened_to: list = []  # cell: foreachBatch → driver loop

        def _apply(batch_df, batch_id: int) -> None:
            births = sorted(
                set(
                    _parquet_footer_fields(
                        _source_log_files(checkpoint_dir, batch_id)
                    )
                )
                - known
            )
            births = [b for b in births if not b.startswith("_")]
            if births:
                widened_to.append(births)
                raise SchemaWidened(births)
            apply_batch(
                table, batch_df, batch_id, cfg=cfg, lineage=lineage,
                stream_id=stream_id, skew_memo=skew_memo,
            )

        events = read_events_stream(
            spark, changelog_dir, max_files_per_trigger, schema=schema
        )
        query = (
            events.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .queryName(
                f"ingest-evolving-{table.root.rstrip('/').rsplit('/', 1)[-1]}"
            )
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination()
            return restarts
        except Exception:
            if not widened_to:
                raise  # a real failure, not a schema birth
            restarts += 1
            if restarts > max_restarts:
                raise
            schema = observed_change_schema(changelog_dir, schema)


def run_ingest_stream(
    spark: SparkSession,
    changelog_dir: str,
    table: MiniLakeTable,
    checkpoint_dir: str,
    cfg: ApplyConfig | None = None,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
    await_termination: bool = True,
) -> StreamingQuery:
    """Structured Streaming ingest with foreachBatch MERGE.

    Note on evolution: the file source needs a fixed read schema, so this
    path reads with the superset CHANGE_EVENT_SCHEMA (pre-evolution files
    project the missing column as null). True schema-birth detection is
    exercised through :func:`replay_files`; on a real deployment the
    schema registry feeding the stream plays this role.
    """
    lineage = LineageLog(table.root)
    events = read_events_stream(spark, changelog_dir, max_files_per_trigger)
    # Fence lineage = this checkpoint: Structured Streaming guarantees a
    # stable batch-id <-> offset-range mapping only within one checkpoint.
    stream_id = f"ckpt:{os.path.abspath(checkpoint_dir)}"
    skew_memo: dict = {}

    def _apply(batch_df, batch_id: int) -> None:
        apply_batch(
            table, batch_df, batch_id, cfg=cfg, lineage=lineage,
            stream_id=stream_id, skew_memo=skew_memo,
        )

    writer = (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"ingest-{table.root.rstrip('/').rsplit('/', 1)[-1]}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if await_termination:
        query.awaitTermination()
    return query


def replay_files(
    spark: SparkSession,
    changelog_dir: str,
    table: MiniLakeTable,
    cfg: ApplyConfig | None = None,
    files_per_batch: int = 1,
    start_batch: int | None = None,
    stop_after: int | None = None,
    pipeline_depth: int = 1,
    events_per_batch: int | None = None,
    to_branch: str | None = None,
) -> int:
    """Bounded replay: ordered batch files → micro-batches, schema
    inferred per batch (true in-flight column birth). Idempotent and
    resumable purely via the sink fence — replaying from batch 0 after a
    crash re-skips everything already committed. Returns batches applied.

    ``stop_after`` applies N batches then returns (crash-simulation hook
    for the resume tests).

    ``events_per_batch`` switches micro-batch sizing from file count to
    row volume (greedy packing by Parquet footer row counts) — use when
    the changelog mixes file sizes and a fixed files-per-batch would
    make undersized batches pay full fixed cost.

    ``pipeline_depth > 1`` overlaps up to that many batches (MOR tables
    only): batch k+1's plan/scan/write job runs while batch k's is still
    executing, and COMMITS stay strictly batch-ordered via a per-batch
    gate threaded down to ``merge(pre_commit=...)`` — fencing, resume and
    final state are byte-identical to the serial path (tested). Hides the
    per-batch serial driver time (planning/codegen/commit) that otherwise
    caps scaling as per-batch wall shrinks with executor count. Batches
    whose Parquet schema births a new column drain the pipeline first, so
    in-flight additive evolution keeps its serialized semantics.

    ``to_branch`` replays the whole changelog onto a branch ref (audited
    backfill: main serves the old state until ``fast_forward`` /
    ``cherry_pick_branch``). Branch-local fencing keeps the replay
    idempotent/resumable exactly like main-targeted replays; runs serial
    (ordered-commit pipelining targets main's CAS chain).
    """
    lineage = LineageLog(table.root)
    files = list_batch_files(changelog_dir)
    if events_per_batch:
        # Volume-sized micro-batches (the maxBytesPerTrigger analog):
        # greedily pack ordered files until the row target is met, so
        # undersized tail files don't each pay a whole batch's fixed
        # cost (plan/codegen/commit). Row counts come from Parquet
        # footer metadata — driver-side, no data scanned; non-parquet
        # files conservatively count as one target's worth.
        import pyarrow.parquet as pq

        stream_id = (
            f"replay:{os.path.abspath(changelog_dir)}:e{events_per_batch}"
        )
        batches = []
        group: list[str] = []
        acc = 0
        for p in files:
            group.append(p)
            if p.endswith(".parquet"):
                try:
                    acc += pq.ParquetFile(p).metadata.num_rows
                except Exception:
                    acc += events_per_batch
            else:
                acc += events_per_batch
            if acc >= events_per_batch:
                batches.append(group)
                group, acc = [], 0
        if group:
            batches.append(group)
    else:
        stream_id = (
            f"replay:{os.path.abspath(changelog_dir)}:k{files_per_batch}"
        )
        batches = [
            files[i : i + files_per_batch]
            for i in range(0, len(files), files_per_batch)
        ]
    first = start_batch or 0
    todo = [
        (batch_id, group)
        for batch_id, group in enumerate(batches)
        if batch_id >= first
    ]
    if stop_after is not None:
        todo = todo[:stop_after]

    def _read(group: list[str]):
        if all(p.endswith(".parquet") for p in group):
            # Per-batch schema from the parquet FOOTERS (pyarrow,
            # driver-side, memoized per immutable file) instead of
            # ``spark.read.parquet`` inference — the inference job is a
            # 1-task Spark job costing 0.3-0.6s of serial driver time
            # PER BATCH (measured via event log; thousands of batches at
            # 10^10 events). Schema birth is still observed exactly at
            # the batch that carries it, and a multi-file batch reads
            # the UNION of its footers (first-seen order) — the same
            # contract observed_change_schema applies on the streaming
            # path.
            fields = _parquet_footer_fields(group)
            if fields:
                schema = T.StructType(
                    [T.StructField(n, t, True) for n, t in fields.items()]
                )
                return spark.read.schema(schema).parquet(*group)
            return spark.read.parquet(*group)  # unreadable footer: infer
        # JSONL/CSV batches carry no self-describing schema — read with
        # the declared superset contract (schema birth stays a
        # Parquet-era feature; text feeds are fixed-schema by decree,
        # the reference's rule at transform.py:139-165).
        return read_events(spark, group)

    if (
        pipeline_depth > 1
        and to_branch is None  # branch writes stay serial (no pre_commit)
        and table.manifest().get("write_mode") == "mor"
    ):
        return _replay_pipelined(
            table, todo, _read, cfg, lineage, stream_id, pipeline_depth
        )

    applied = 0
    skew_memo: dict = {}
    for batch_id, group in todo:
        apply_batch(
            table, _read(group), batch_id, cfg=cfg, lineage=lineage,
            stream_id=stream_id, skew_memo=skew_memo, to_branch=to_branch,
        )
        applied += 1
    return applied


def _replay_pipelined(
    table: MiniLakeTable,
    todo: list[tuple[int, list[str]]],
    read_fn,
    cfg: ApplyConfig | None,
    lineage: LineageLog,
    stream_id: str,
    depth: int,
) -> int:
    """Ordered-commit pipelined apply (see :func:`replay_files`).

    Safety properties:
    - commits happen in batch order (per-batch threading.Event chain →
      ``merge`` re-reads its CAS base after the gate), so fences /
      crash-resume behave exactly as in serial mode;
    - auto-compaction never races an in-flight merge (a compact commit
      would CAS-conflict): instead of running inside apply_batch it
      becomes a periodic PIPELINE DRAIN — every ``auto_compact_max_files``
      batches the loop waits for all in-flight commits, then folds
      oversized delta chains on the quiesced table. Delta chains stay
      bounded over arbitrarily long replays (10^10 events ≈ thousands of
      batches), same bound as serial mode; set
      ``cfg.auto_compact_max_files=0`` to defer all folding to the caller;
    - a batch that births new columns drains the pipeline first, keeping
      additive evolution's serialized semantics.
    """
    import threading
    from concurrent.futures import ThreadPoolExecutor
    from dataclasses import replace

    cfg = cfg or ApplyConfig()
    compact_every = cfg.auto_compact_max_files  # drain cadence (0 = never)
    cfg = replace(cfg, auto_compact_max_files=0)  # never inside apply_batch
    done = {todo[0][0] - 1: threading.Event()} if todo else {}
    if todo:
        done[todo[0][0] - 1].set()
    for batch_id, _ in todo:
        done[batch_id] = threading.Event()
    failed = threading.Event()
    # sticky skew verdict shared across in-flight batches: dict get/set
    # are GIL-atomic; a concurrently-probing pair at the cadence edge
    # just probes twice, which is harmless
    skew_memo: dict = {}

    def _run(batch_id: int, df) -> None:
        def _gate() -> None:
            while not done[batch_id - 1].wait(timeout=1.0):
                if failed.is_set():
                    raise RuntimeError(
                        f"pipelined replay aborted: predecessor of batch "
                        f"{batch_id} failed"
                    )

        try:
            apply_batch(
                table, df, batch_id, cfg=cfg, lineage=lineage,
                stream_id=stream_id, pre_commit=_gate,
                skew_memo=skew_memo,
            )
            done[batch_id].set()
        except BaseException:
            failed.set()
            raise

    applied = 0
    with ThreadPoolExecutor(max_workers=depth) as pool:
        pending: list = []
        for batch_id, group in todo:
            df = read_fn(group)
            # apply_batch's own rule, so a renamed lsn/op column neither
            # skips the drain (racing an in-flight predecessor's
            # add_columns) nor forces a spurious full drain every batch
            births = new_payload_fields(
                df.schema.fields, set(table.schema().fieldNames()), cfg
            )
            if births:  # drain: evolution must see a quiesced table
                for fut in pending:
                    fut.result()
                pending = []
            if (
                compact_every
                and applied
                and applied % compact_every == 0
            ):  # periodic maintenance drain: fold delta chains
                for fut in pending:
                    fut.result()
                pending = []
                # after `compact_every` merges a uniformly-spread bucket's
                # chain is exactly compact_every deltas — fold at ≥, not
                # >, or the cadence and the threshold chase each other
                # and nothing ever folds
                table.maybe_compact(max(compact_every - 1, 1))
            pending.append(pool.submit(_run, batch_id, df))
            applied += 1
            if len(pending) >= depth:
                pending.pop(0).result()  # bound in-flight work
        for fut in pending:
            fut.result()
    return applied
