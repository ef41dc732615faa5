"""MiniLake — an Iceberg-semantics lake table backend.

The sandbox has no Iceberg runtime jar (no network), so the engine's sink
is written against a small table interface with Iceberg semantics
implemented on Parquet data files + atomic JSON snapshot manifests:

- **Atomic snapshot commits** — a commit writes new data files, then a new
  manifest version via ``O_CREAT|O_EXCL`` (optimistic CAS: a concurrent
  committer loses and gets :class:`CommitConflict`), then swaps the
  ``CURRENT`` pointer with an atomic rename. Readers only ever see a
  complete snapshot. This is the reference's single-transaction
  truncate+insert discipline (/root/reference/utils/load.py:213-271)
  generalized to snapshot isolation.
- **One commit routine** — every writer but ``create`` and
  ``shallow_clone`` commits through ``_commit_snapshot``: the writer
  supplies the fields it changes, the routine carries the table state,
  stamps version/parent/snapshot id/time and CASes. On a conflict it
  reloads the base (adopting a complete version file whose writer died
  before the pointer swap; a torn one raises after a bounded wait) and
  asks the writer again. Two policies: MOR, WAP and branch publishes,
  fence-only commits, MOR compaction and property writes rebase onto
  the racer's snapshot; COW merges, COW compaction, DDL, rescale,
  ``expire_rows`` and rollback CAS once and raise.
- **Exactly-once fencing** — the snapshot carries per-stream-lineage
  batch-id high-water marks (``engine.fences``); ``merge(batch_id=...,
  stream_id=...)`` no-ops when that lineage already applied the batch.
  Fence state is read from the *same* snapshot version the commit CASes
  against, so a retried driver can never double-apply (SURVEY.md §7).
  Batch ids are only stable *within* one source lineage (one Structured
  Streaming checkpoint, one replay driver config) — fencing across
  lineages would silently skip unapplied data, so a new lineage starts
  its own fence and relies on the LWW apply being idempotent
  (at-least-once delivery x idempotent merge = exactly-once effect).
- **Key-bucket partitioning** — rows hash into ``pmod(xxhash64(conv_id),
  n_buckets)`` buckets (Iceberg's ``bucket(N, conv_id)`` transform). A
  MERGE rewrites **only the buckets the batch touches** — the partition-
  pruning property that makes merge-on-write viable at 100 TB: cost scales
  with touched data, not table size. The bucket id is derived from the
  key, never stored, so files stay pure-logical.
- **Tombstone retention** — deletes are rows with ``_deleted=true`` and
  their ``_lsn``, filtered from the read view. A late stale update (lower
  LSN) loses LWW against the tombstone and can never resurrect the key;
  hard removal happens only in ``compact()``.
- **Additive schema evolution** — ``add_columns`` bumps the manifest
  schema; old files are read through schema projection (missing column →
  null), exactly Iceberg's add-column semantics. No data rewrite.

On a real cluster the same engine code runs against real Iceberg by
swapping this class for a thin ``MERGE INTO`` wrapper (same interface);
see ``lake/iceberg_backend.py``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import sys
import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.agg_engine import (
    agg_event_frame,
    agg_fold,
    validate_agg_spec,
)
from ..operators.lww import lww_reduce, lww_reduce_with_lineage
from ..operators.partial_update import (
    RESET_COL,
    partial_event_frame,
    partial_fold,
    vl_col,
)
from ..schema import (
    BIRTH_COL,
    BUCKET_COL,
    DELETED_COL,
    LSN_COL,
    TOMB_COL,
    initial_default,
    physical_name,
    schema_from_manifest,
    schema_to_manifest,
    write_default,
)

FENCES_PROP = "engine.fences"  # {stream_id: batch-id high-water}
MAX_LSN_PROP = "engine.max-lsn"
# physical column names retired by drop_column — add_columns must never
# reuse them (Iceberg field-id semantics: re-added columns read fresh)
RETIRED_PROP = "engine.retired-physical"
# table-level CHECK constraints (Delta ADD CONSTRAINT analog):
# {name: {"expr": sql_bool_expr, "mode": "fail" | "dead_letter"}}
CONSTRAINTS_PROP = "engine.constraints"
# secondary columns whose per-FILE min/max bounds are recorded in the
# manifest (Iceberg manifest-entry column stats analog) so range scans
# can plan from metadata instead of opening every file — see read_range
STATS_COLS_PROP = "engine.stats-columns"
# shallow-clone provenance: the source table root and the source-side
# tag that pins the shared data dirs against the source's retention GC
CLONE_OF_PROP = "engine.clone-of"
CLONE_TAG_PROP = "engine.clone-tag"
ROW_LINEAGE_PROP = "engine.row-lineage"  # bool: carry _birth_lsn/_tomb_lsn
TABLE_STATS_PROP = "engine.table-stats"  # ANALYZE output (Puffin analog)
SKETCH_STATS_PROP = "engine.table-sketches"  # incremental HLL NDV blobs

# Maintenance rewrites whose output is key-unique per bucket (they all
# rewrite the RESOLVED state). Every resolved-snapshot decision — the
# fold-skip read, per-file scan planning, expire_rows safety, the audit's
# duplicate-key check — keys off this ONE tuple.
RESOLVED_DIR_PREFIXES = ("compact-", "rescale-", "expire-")

# Table-state fields a successor snapshot inherits from its base. The
# per-commit fields (``stats``, ``rolled_back_from``) are not carried:
# they describe the commit that wrote them.
_CARRIED = (
    "schema", "key_cols", "n_buckets", "write_mode", "merge_engine",
    "agg_spec", "buckets", "file_stats", "properties",
)


def snapshot_is_resolved(m: dict, dirs: list[str] | None = None) -> bool:
    """Is the snapshot's on-disk state key-unique (one LWW fold row per
    key, no pending deltas)? COW always is; MOR iff every bucket is
    exactly ONE maintenance-rewrite output dir. ``dirs`` narrows the
    prefix check to an explicit read set (e.g. a branch read's base +
    branch deltas — the extra dirs fail the prefix test, correctly
    disqualifying the skip). Vacuously true for an empty table; callers
    whose optimization needs data guard on non-emptiness themselves."""
    if m.get("write_mode", "cow") == "cow":
        return True
    if dirs is None:
        dirs = [d for ds in m.get("buckets", {}).values() for d in ds]
    return all(
        os.path.basename(os.path.dirname(d)).startswith(
            RESOLVED_DIR_PREFIXES
        )
        for d in dirs
    ) and all(len(ds) == 1 for ds in m.get("buckets", {}).values())
# dead-letter fusion bookkeeping (merge(valid_col=..., dead_sink=...)):
# dead rows ride the delta write in this pseudo-bucket, then the dir is
# relocated to the dead-letter sink before the manifest registers buckets
DEAD_BUCKET = -1
SRC_OP_COL = "_src_op"  # original op string preserved for dead letters
# full pre-cast source row as JSON, dead rows only — the forensics
# record: typed DLQ columns go through the table-type cast (junk that
# fails the cast nulls out there), _raw never does
RAW_COL = "_raw"
VALID_COL = "_valid"
# fold key that keeps each dead row its own group (valid rows: null)
DLQ_KEY_COL = "_dlq_key"


class CommitConflict(RuntimeError):
    """Another writer committed the manifest version we raced for."""


class ConstraintViolation(ValueError):
    """A merge batch contained rows failing a table CHECK constraint
    whose mode is 'fail' (or 'dead_letter' without a dead-letter sink
    to route to)."""


def _caller_stacklevel() -> int:
    """``warnings.warn`` stacklevel, counted from the function that calls
    this helper, of the first frame outside this module — so a warning
    names the user's ``merge``/``compact`` line however deep the engine's
    call chain is (Python 3.11 has no ``skip_file_prefixes``)."""
    frame, level = sys._getframe(1), 1
    while frame is not None and frame.f_code.co_filename == __file__:
        frame, level = frame.f_back, level + 1
    return level


def _dedup_exact(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Collapse byte-identical duplicate deliveries: one row per
    ``group_cols`` (key + lsn), F.first over the rest — duplicates are
    identical by construction, so `first` is deterministic in effect.
    Used by the agg merge engine, whose sums are not redelivery-
    idempotent the way LWW/partial picks are."""
    rest = [c for c in df.columns if c not in group_cols]
    return df.groupBy(*group_cols).agg(
        *[F.first(F.col(c)).alias(c) for c in rest]
    )


# ---- bucket→shuffle-partition placement --------------------------------
# Every bucket-clustered shuffle (MOR merge, COW merge, compaction,
# rescale) must land each bucket in exactly ONE partition — the
# partitionBy(_bucket) writer then emits one file per bucket per dir —
# and should give every task slot an equal share of buckets.
#
# ``repartition(n, bucket)`` does neither well: it hashes the ~n
# distinct bucket ids into n partitions, and with 32 buckets into 32
# partitions only ~18 are non-empty while the worst carries THREE
# buckets (measured). One partition per bucket is no better on a small
# host: 33 reduce tasks on 4 cores run in 9 waves of short tasks whose
# fixed launch cost dominates.
#
# So :func:`_place_buckets` packs the buckets onto
# P = min(#buckets (+1 for the dead-letter pseudo-bucket), slots)
# partitions, slots = ``sparkContext.defaultParallelism``: bucket rank
# r goes to partition r mod P, via a per-partition TOKEN picked so
# Spark's own partitioner (pmod(murmur3(token), P)) sends it exactly
# there. Partition loads differ by at most one bucket, and one task per
# slot runs the whole reduce in a single wave.
#
# The token column rides as the LAST group key of the clustered fold:
# it is a function of the bucket id, so grouping is unchanged, and
# HashPartitioning(token) satisfies the aggregate's ClusteredDistribution
# over any key superset (one Exchange). Keys ordered
# ``(_bucket, keys…, _part_spread)`` make the fold's own sort — the LWW
# max(struct) has no fixed-width buffer, so it plans as a SortAggregate —
# already satisfy the writer's _bucket ordering and compaction's
# (_bucket, key) file sort: one Sort per write.

SPREAD_COL = "_part_spread"


def _murmur3_int(k: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of one IntegerType value (``F.hash(int_col)``)
    — verified bit-exact against Spark in tests. Lets the driver pick
    spread tokens without running a job."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k &= 0xFFFFFFFF
    k = (k * c1) & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = (k * c2) & 0xFFFFFFFF
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # fmix, input length in bytes
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


_SPREAD_TOKEN_MEMO: dict[int, list[int]] = {}


def _spread_tokens(n_parts: int) -> list[int]:
    """``tokens[p]`` hashes (Spark int hash, mod ``n_parts``) to exactly
    partition ``p`` — a bijection partition-rank → token. Found by linear
    search (~n·ln n probes), memoized per partition count."""
    got = _SPREAD_TOKEN_MEMO.get(n_parts)
    if got is None:
        tokens: list[int | None] = [None] * n_parts
        left = n_parts
        t = 0
        while left:
            p = _murmur3_int(t) % n_parts
            if tokens[p] is None:
                tokens[p] = t
                left -= 1
            t += 1
        got = tokens  # type: ignore[assignment]
        _SPREAD_TOKEN_MEMO[n_parts] = got
    return got


def _spread_expr(bucket_ids: list[int], n_parts: int, dead_token: bool = False):
    """Column mapping each bucket id to the spread token of its
    partition. Bucket ids get ranks in sorted order and rank r goes to
    partition r mod ``n_parts``; ``dead_token=True`` ranks
    :data:`DEAD_BUCKET` rows after the real buckets."""
    ordered = sorted(bucket_ids)
    tokens = _spread_tokens(n_parts)

    def tok(rank: int):
        return F.lit(tokens[rank % n_parts])

    if not ordered:
        return tok(0).cast("int")
    expr = None
    if dead_token:
        expr = F.when(F.col(BUCKET_COL) == DEAD_BUCKET, tok(len(ordered)))
    if ordered == list(range(len(ordered))):
        # dense 0..n-1 domain: O(1) array lookup instead of a CASE chain
        arr = F.array(*[tok(r) for r in range(len(ordered))])
        dense = F.element_at(arr, F.col(BUCKET_COL) + 1)
        expr = expr.otherwise(dense) if expr is not None else dense
        return expr.cast("int")
    for rank, b in enumerate(ordered):
        hit = F.col(BUCKET_COL) == b
        expr = F.when(hit, tok(rank)) if expr is None else expr.when(
            hit, tok(rank)
        )
    return expr.cast("int")


def _task_slots(spark: SparkSession) -> int:
    """Task slots the session has (cores across executors)."""
    return max(spark.sparkContext.defaultParallelism, 1)


def _place_buckets(
    df: DataFrame, bucket_ids: list[int], dead_token: bool = False
) -> DataFrame:
    """The one bucket-placement decision for every bucket-clustered
    shuffle: add :data:`SPREAD_COL` and repartition on it into
    P = min(#buckets, task slots) partitions (the dead pseudo-bucket
    counts as one more bucket), each bucket in exactly one partition,
    loads within one bucket of each other. Callers fold with
    ``SPREAD_COL`` as the last group key and drop it before writing."""
    n = len(bucket_ids) + (1 if dead_token else 0)
    n_parts = max(min(n, _task_slots(df.sparkSession)), 1)
    return df.withColumn(
        SPREAD_COL, _spread_expr(bucket_ids, n_parts, dead_token)
    ).repartition(n_parts, F.col(SPREAD_COL))


@dataclass
class MergeResult:
    skipped: bool
    version: int
    snapshot_id: str
    reason: str = ""  # when skipped: "fenced" | "empty"
    rows_upserted: int = 0
    rows_deleted: int = 0
    buckets_touched: int = 0
    wall_ms: float = 0.0
    # write-audit-publish: merge(stage_to=...) ran the write job but did
    # NOT commit — version/snapshot_id are the base the stage saw, and
    # the change becomes visible only after publish_staged(wap_id)
    staged: bool = False
    wap_id: str | None = None
    # branch refs: merge(to_branch=...) parked the delta as the branch's
    # next commit — visible on read(branch=...) immediately, on main only
    # after fast_forward / cherry_pick_branch
    branch: str | None = None


class MiniLakeTable:
    """One lake table rooted at a directory. Cheap to construct; all state
    lives in the manifest files."""

    # merge() resolves per-key LWW internally, so a multi-row-per-key
    # source is fine (pipeline.apply_batch reads this flag).
    requires_unique_source = False

    @property
    def merge_engine(self) -> str:
        """'lww' (whole-row last-writer-wins, default), 'partial'
        (column-coalescing — operators/partial_update.py) or 'agg'
        (per-column sum/min/max/last states — operators/agg_engine.py)."""
        return self.manifest().get("merge_engine", "lww")

    @property
    def row_lineage(self) -> bool:
        """Whether this table carries per-row lineage summaries
        (``_birth_lsn``/``_tomb_lsn``)."""
        return bool(
            self.manifest().get("properties", {}).get(ROW_LINEAGE_PROP)
        )

    @property
    def needs_every_event(self) -> bool:
        """Whether merge() must see every event of a batch, so nothing
        upstream may pre-collapse it (pipeline.apply_batch reads this to
        skip its salted reduce and its skew probe):

        - partial/agg engines: a whole-row pre-collapse would fold a
          batch's partial updates into ONE row image (dropping columns
          the last event didn't carry) and destroy an agg table's
          per-event contributions — merge's own fold IS the reduce;
        - ``dead_letter`` CHECK constraints: filter-then-LWW is per-EVENT
          — a pre-collapse would let a newer VIOLATING event erase an
          older valid one before the constraint check sees it;
        - row lineage: the lineage-aware fold records within-batch
          births, and a salted two-phase split can straddle a tombstone,
          breaking the summary's associativity.

        merge()'s internal clustered fold still collapses hot keys after
        its one bucket Exchange; these tables give up the salted path's
        balance, not correctness."""
        m = self.manifest()
        props = m.get("properties", {})
        return (
            m.get("merge_engine", "lww") != "lww"
            or bool(props.get(ROW_LINEAGE_PROP))
            or any(
                c.get("mode") == "dead_letter"
                for c in props.get(CONSTRAINTS_PROP, {}).values()
            )
        )

    @property
    def supports_dead_letter_fusion(self) -> bool:
        """MOR tables can write dead-letter rows inside the merge's one
        delta-write job (merge(valid_col=..., dead_sink=...)) instead of
        a second O(batch) source re-scan; pipeline.apply_batch fuses
        whenever this holds and it neither salts nor pre-reduces the
        batch. Partial- and agg-engine tables use the separate-write DLQ
        path — their per-column folds would mangle a dead row's payload
        and destroy its forensics."""
        m = self.manifest()
        return (
            m.get("write_mode", "cow") == "mor"
            and m.get("merge_engine", "lww") == "lww"
        )

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        # per-dir footer schema memo (dirs are immutable once committed)
        self._footer_cols_memo: dict[str, frozenset[str]] = {}

    # ---------------------------------------------------------------- DDL

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 32,
        properties: dict | None = None,
        write_mode: str = "cow",
        merge_engine: str = "lww",
        agg_spec: dict | None = None,
        row_lineage: bool = False,
    ) -> "MiniLakeTable":
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be cow|mor, got {write_mode!r}")
        if merge_engine not in ("lww", "partial", "agg"):
            raise ValueError(
                f"merge_engine must be lww|partial|agg, got {merge_engine!r}"
            )
        if row_lineage and (write_mode != "mor" or merge_engine != "lww"):
            # lineage summaries ride the MOR delta pre-reduce and the
            # compaction fold; the COW rewrite and the partial/agg folds
            # have no whole-row winner to attach a birth to
            raise ValueError(
                "row_lineage requires write_mode='mor' and "
                "merge_engine='lww'"
            )
        if merge_engine == "agg":
            # spec keyed by PHYSICAL column name — stable across renames
            agg_spec = validate_agg_spec(
                agg_spec,
                [
                    physical_name(f)
                    for f in schema.fields
                    if f.name not in key_cols
                ],
            )
        elif agg_spec is not None:
            raise ValueError("agg_spec requires merge_engine='agg'")
        t = cls(spark, root)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        manifest = {
            "version": 1,
            "snapshot_id": str(uuid.uuid4()),
            "parent_snapshot_id": None,
            "schema": schema_to_manifest(schema),
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "write_mode": write_mode,
            "merge_engine": merge_engine,
            **({"agg_spec": agg_spec} if agg_spec is not None else {}),
            "buckets": {},
            "properties": {FENCES_PROP: {}, MAX_LSN_PROP: -1,
                           **({ROW_LINEAGE_PROP: True} if row_lineage else {}),
                           **(properties or {})},
            "stats": {"live_rows": 0, "tombstones": 0},
            "committed_at": time.time(),
        }
        t._write_manifest(manifest)
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, "metadata", "CURRENT"))

    # ------------------------------------------------------------ manifest

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version:06d}.json")

    def current_version(self) -> int:
        with open(os.path.join(self.meta_dir, "CURRENT")) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self.current_version()
        try:
            with open(self._manifest_path(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot v{version} does not exist (never committed, or "
                f"expired by retention GC — earliest retained is "
                f"v{self._earliest_version()}); time travel and "
                "incremental reads past the retention horizon are "
                "unavailable by design"
            ) from None

    def _earliest_version(self) -> int | None:
        versions = [
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
        ]
        return min(versions) if versions else None

    def _write_manifest(self, manifest: dict) -> None:
        """CAS-commit a manifest: O_EXCL create of the version file (lose
        the race → CommitConflict), then atomic CURRENT pointer swap."""
        version = manifest["version"]
        path = self._manifest_path(version)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflict(
                f"manifest v{version} already committed by another writer"
            ) from e
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        tmp = os.path.join(self.meta_dir, f".CURRENT.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(self.meta_dir, "CURRENT"))

    def _recover_current(self) -> bool:
        """Roll ``CURRENT`` forward over fully-written version files left
        behind by a writer that died between the ``O_EXCL`` manifest
        create (the durable commit point) and the pointer rename. Such a
        manifest IS committed — the pointer is just stale — so adopting
        it is the only move that unblocks the CAS without discarding a
        durable commit. A torn file (invalid JSON: the writer died
        mid-``json.dump``) is NOT adopted — it may also belong to a live,
        slow writer, so the caller bounds its retries instead.

        Returns True if the pointer advanced. The repair rename can race
        a concurrent legitimate commit and transiently point CURRENT one
        version back; the next conflict's recovery re-advances it, and
        every manifest it can point at is complete — readers never see a
        torn snapshot.
        """
        cur = self.current_version()
        adopted = cur
        while True:
            nxt = self._manifest_path(adopted + 1)
            try:
                with open(nxt) as f:
                    json.load(f)
            except (FileNotFoundError, json.JSONDecodeError, OSError):
                break
            adopted += 1
        if adopted == cur:
            return False
        tmp = os.path.join(self.meta_dir, f".CURRENT.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(adopted))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(self.meta_dir, "CURRENT"))
        return True

    def _reload_after_conflict(self, prev_version: int) -> dict:
        """Fresh CAS base after a :class:`CommitConflict` — the re-entry
        point of :meth:`_commit_snapshot`, and the reason it can never
        spin forever: a retry is only handed a base that actually
        PROGRESSED past the one it lost on. No visible progress means the
        blocking ``v{prev+1}`` file is an orphan; a valid one (crash
        after the manifest fsync, before the pointer rename) is adopted
        via :meth:`_recover_current`, a torn one is polled briefly (its
        writer may be alive and mid-write) and then surfaced as a clear
        error instead of a silent livelock.
        """
        deadline = time.time() + 5.0
        while True:
            self._recover_current()
            base = self.manifest()
            if base["version"] > prev_version:
                return base
            if time.time() >= deadline:
                raise CommitConflict(
                    f"commit of v{prev_version + 1} is blocked by "
                    f"{self._manifest_path(prev_version + 1)}: the file "
                    "exists but is not a complete manifest and CURRENT "
                    "has not advanced — a writer died mid-commit. Remove "
                    "the torn file to unblock commits."
                )
            time.sleep(0.05)

    def _commit_snapshot(
        self,
        base: dict,
        build: Callable[[dict], dict | None],
        out_dir: str | None = None,
    ) -> dict | None:
        """Commit the successor of ``base`` — the one commit routine of
        every writer except :meth:`create` and :meth:`shallow_clone`.

        ``build(base)`` returns the fields this commit changes, or None
        when the base makes the commit unnecessary (a racer applied the
        same batch); then nothing is committed and None is returned.
        The successor carries only the table state (:data:`_CARRIED`),
        so per-commit fields — ``stats``, ``rolled_back_from`` — appear
        only when ``build`` sets them. Version, parent, snapshot id and
        commit time are stamped here, and the manifest CASes through
        :meth:`_write_manifest`.

        On :class:`CommitConflict` the fresh base always comes from
        :meth:`_reload_after_conflict` (a valid stale version file is
        adopted, a torn one raises after a bounded wait) and ``build``
        runs again on it. The conflict policy is the builder's: one that
        may rebase returns fields for the new base; one that must not
        (:meth:`_pinned`) raises :class:`CommitConflict`. Whenever the
        routine raises :class:`CommitConflict`, ``out_dir`` — the
        commit's unregistered data dir — is removed. Returns the
        committed manifest."""
        try:
            while True:
                fields = build(base)
                if fields is None:
                    return None
                m2 = {
                    "version": base["version"] + 1,
                    "snapshot_id": str(uuid.uuid4()),
                    "parent_snapshot_id": base["snapshot_id"],
                    **{k: base[k] for k in _CARRIED if k in base},
                    **fields,
                    "committed_at": time.time(),
                }
                try:
                    self._write_manifest(m2)
                    return m2
                except CommitConflict:
                    base = self._reload_after_conflict(base["version"])
        except CommitConflict:
            if out_dir is not None:
                shutil.rmtree(out_dir, ignore_errors=True)
            raise

    @staticmethod
    def _pinned(version: int, fields: dict) -> Callable[[dict], dict]:
        """Builder of a one-CAS commit: ``fields`` were derived from
        snapshot ``version`` and are only valid on top of it, so a
        conflict raises instead of rebasing — the caller re-runs the
        operation on the fresh snapshot."""

        def build(base: dict) -> dict:
            if base["version"] != version:
                raise CommitConflict(
                    f"v{version + 1} was committed by another writer "
                    f"(table now at v{base['version']}); re-run the "
                    "operation on the fresh snapshot"
                )
            return fields

        return build

    def _commit_properties(self, updates: dict) -> int:
        """Metadata-only commit merging ``updates`` into the properties;
        retried on the racer's base (the updates do not depend on it).
        Returns the committed version."""
        return self._commit_snapshot(
            self.manifest(),
            lambda b: {"properties": {**b["properties"], **updates}},
        )["version"]

    # ------------------------------------------------------------- schema

    def schema(self, version: int | None = None) -> T.StructType:
        return schema_from_manifest(self.manifest(version)["schema"])

    def physical_read_schema(self, version: int | None = None) -> T.StructType:
        """On-disk schema + bookkeeping cols (what data files contain):
        each field under its PHYSICAL name — stable across renames, so
        one read schema projects files written at any version."""
        m = self.manifest(version)
        s = schema_from_manifest(m["schema"])
        fields = [
            T.StructField(physical_name(f), f.dataType, f.nullable)
            for f in s.fields
        ] + [
            T.StructField(LSN_COL, T.LongType(), False),
            T.StructField(DELETED_COL, T.BooleanType(), False),
        ]
        if m.get("properties", {}).get(ROW_LINEAGE_PROP):
            # lineage summary columns (folded/compacted files carry
            # them; files written before enablement read as null — a
            # null summary means "this row is its own singleton
            # summary", which the lineage fold resolves via coalesce)
            fields += [
                T.StructField(BIRTH_COL, T.LongType(), True),
                T.StructField(TOMB_COL, T.LongType(), True),
            ]
        engine = m.get("merge_engine", "lww")
        if engine == "partial":
            # fold layout (operators/partial_update.py): each payload
            # column's write-LSN sibling + the per-key delete-reset LSN
            fields += [
                T.StructField(vl_col(physical_name(f)), T.LongType(), True)
                for f in s.fields
                if f.name not in m["key_cols"]
            ]
            fields.append(T.StructField(RESET_COL, T.LongType(), True))
        elif engine == "agg":
            # only `last` columns carry a write-LSN sibling; sum/min/max
            # states are self-contained (operators/agg_engine.py)
            spec = m.get("agg_spec", {})
            fields += [
                T.StructField(vl_col(physical_name(f)), T.LongType(), True)
                for f in s.fields
                if f.name not in m["key_cols"]
                and spec.get(physical_name(f), "last") == "last"
            ]
        return T.StructType(fields)

    def add_columns(
        self,
        new_fields: list[T.StructField],
        defaults: dict[str, object] | None = None,
        write_defaults: dict[str, object] | None = None,
    ) -> int:
        """Additive schema evolution: append columns to the manifest
        schema in a new snapshot. Existing files read them as null via
        schema projection — no data rewrite (Iceberg add-column
        semantics). Rejects non-additive changes.

        ``defaults`` gives named new columns an ``initial-default``
        (Iceberg v3 default values): rows written BEFORE the add read
        the default instead of null; rows written after — including
        explicit nulls — read exactly what the writer wrote. The
        distinction is per data FILE, not per value: merge fills
        source-omitted columns with typed nulls (so every post-add file
        physically contains the column) and pre-add files simply lack
        it, which the read path detects from one memoized Parquet
        footer per directory. No data rewrite here either; compaction
        materializes defaults into its output files as a side effect of
        reading through the same choke point. LWW tables only: the
        partial engine's per-column fold cannot tell "never written,
        default applies" from "written then folded away" without a
        third sentinel state, and defaults on aggregation states
        (sum/min/max) have no coherent meaning.

        ``write_defaults`` is the other half of Iceberg v3 defaults:
        the value a merge fills in when a WRITER's source omits the
        column entirely (an explicit null is still a null — only
        absence defaults). Honored by both merge entry points (raw
        ``merge`` and the pipeline's ``apply_batch``). A schema passed
        to :meth:`create` may declare ``write_default`` in StructField
        metadata directly for day-one columns.

        If a new column's name collides with a PHYSICAL name already in
        use or ever retired (a drop, or a rename freeing the logical
        name while the file column lives on), the column gets a fresh
        suffixed physical name — the Iceberg field-id guarantee that a
        re-added column never reads a dropped column's old values."""
        m = self.manifest()
        defaults = defaults or {}
        write_defaults = write_defaults or {}
        if (defaults or write_defaults) and m.get(
            "merge_engine", "lww"
        ) != "lww":
            raise ValueError(
                "default-valued columns require merge_engine='lww' "
                f"(this table: {m.get('merge_engine')!r}) — the partial "
                "engine treats a writer-omitted column as 'no change' "
                "(filling it would overwrite), the agg fold would sum a "
                "write-default into the state, and neither fold has a "
                "per-column 'never written' state for an initial-default"
            )
        for label, d in (
            ("initial-default", defaults),
            ("write-default", write_defaults),
        ):
            unknown = set(d) - {f.name for f in new_fields}
            if unknown:
                raise ValueError(
                    f"{label}s for columns not being added: {unknown}"
                )
            for name, v in d.items():
                if v is None:
                    raise ValueError(
                        f"{name}: a null {label} is meaningless — "
                        "null is what the column reads without one"
                    )
                if not isinstance(v, (str, int, float, bool)):
                    raise ValueError(
                        f"{name}: {label} must be a JSON scalar "
                        f"(manifest-serializable), got {type(v).__name__}"
                    )
        schema = schema_from_manifest(m["schema"])
        existing = {f.name for f in schema.fields}
        taken = {physical_name(f) for f in schema.fields} | set(
            m["properties"].get(RETIRED_PROP, [])
        )
        resolved: list[T.StructField] = []
        for f in new_fields:
            if f.name in existing:
                raise ValueError(f"column {f.name} already exists")
            if f.name.startswith("_"):
                raise ValueError(f"reserved column name {f.name}")
            if f.name in defaults or f.name in write_defaults:
                md = dict(f.metadata or {})
                if f.name in defaults:
                    md["initial_default"] = defaults[f.name]
                if f.name in write_defaults:
                    md["write_default"] = write_defaults[f.name]
                f = T.StructField(f.name, f.dataType, f.nullable, md)
            if f.name in taken:
                k = 2
                while f"{f.name}__r{k}" in taken:
                    k += 1
                md = dict(f.metadata or {})
                md["physical"] = f"{f.name}__r{k}"
                f = T.StructField(f.name, f.dataType, f.nullable, md)
            taken.add(physical_name(f))
            resolved.append(f)
        new_schema = T.StructType(list(schema.fields) + resolved)
        return self._commit_snapshot(m, self._pinned(
            m["version"], {"schema": schema_to_manifest(new_schema)}
        ))["version"]

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename (Iceberg ALTER TABLE ... RENAME
        COLUMN): the logical name changes in a new snapshot; every data
        file — past and future — keeps the column under its original
        PHYSICAL name and readers alias it. Time travel to a pre-rename
        version reads the old name; key columns rename too (the bucket
        hash is over values, not names, so layout and fences are
        untouched)."""
        m = self.manifest()
        schema = schema_from_manifest(m["schema"])
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if new.startswith("_") or not new:
            raise ValueError(f"reserved column name {new!r}")
        fields = []
        for f in schema.fields:
            if f.name == old:
                md = dict(f.metadata or {})
                md.setdefault("physical", f.name)
                fields.append(T.StructField(new, f.dataType, f.nullable, md))
            else:
                fields.append(f)
        changed: dict = {"schema": schema_to_manifest(T.StructType(fields))}
        if old in m["key_cols"]:
            changed["key_cols"] = [
                new if k == old else k for k in m["key_cols"]
            ]
        # a rename must not orphan a CHECK constraint that names the old
        # column — re-resolve all of them against the renamed schema and
        # fail the DDL (drop/re-add the constraint first) instead of
        # leaving merges to blow up later
        for cname, c in m["properties"].get(CONSTRAINTS_PROP, {}).items():
            self._resolve_constraint(
                c["expr"], T.StructType(fields), cname
            )
        # stats-column declarations follow the logical name (their
        # bounds are keyed on the PHYSICAL name, which never changes —
        # recorded bounds stay valid across the rename)
        scols = m["properties"].get(STATS_COLS_PROP)
        if scols and old in scols:
            changed["properties"] = {
                **m["properties"],
                STATS_COLS_PROP: sorted(
                    new if c == old else c for c in scols
                ),
            }
        return self._commit_snapshot(
            m, self._pinned(m["version"], changed)
        )["version"]

    def drop_column(self, name: str) -> int:
        """Metadata-only column drop (Iceberg ALTER TABLE ... DROP
        COLUMN): the field leaves the schema in a new snapshot; data
        files are never rewritten (the physical column simply stops
        being projected) and time travel to a pre-drop version still
        reads it. The physical name is RETIRED so a later add_columns
        of the same name maps to a fresh physical column — old values
        can never resurrect. Key columns cannot be dropped."""
        m = self.manifest()
        schema = schema_from_manifest(m["schema"])
        field = next((f for f in schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"no column {name!r}")
        if name in m["key_cols"]:
            raise ValueError(f"cannot drop key column {name!r}")
        kept = T.StructType([f for f in schema.fields if f.name != name])
        # same guard as rename: a drop must not orphan a constraint
        for cname, c in m["properties"].get(CONSTRAINTS_PROP, {}).items():
            self._resolve_constraint(c["expr"], kept, cname)
        # retired set lives in properties: every manifest rebuild site
        # spread-carries properties, so a later merge/publish/compact
        # can never silently un-retire a physical name. A dropped stats
        # column leaves the declaration too (its recorded bounds go
        # stale-but-unused; re-adding the name maps to a FRESH physical
        # column, so old bounds can never prune the new one).
        properties = {
            **m["properties"],
            RETIRED_PROP: sorted(
                set(m["properties"].get(RETIRED_PROP, []))
                | {physical_name(field)}
            ),
            STATS_COLS_PROP: sorted(
                c
                for c in m["properties"].get(STATS_COLS_PROP, [])
                if c != name
            ),
        }
        return self._commit_snapshot(m, self._pinned(
            m["version"],
            {"schema": schema_to_manifest(kept), "properties": properties},
        ))["version"]

    # Safe type promotions (Iceberg/Delta type-widening set, limited to
    # what Spark's Parquet readers natively upcast — SPARK-40876): a
    # file written at the narrow type is read back at the wide one with
    # no rewrite and no per-file branching.
    _SAFE_WIDENINGS = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("tinyint", "double"),
        ("smallint", "int"), ("smallint", "bigint"), ("smallint", "double"),
        ("int", "bigint"), ("int", "double"),
        ("float", "double"),
    }

    def widen_column_type(self, name: str, new_type: T.DataType) -> int:
        """Metadata-only type widening (Iceberg ALTER COLUMN ... TYPE):
        the field's declared type grows in a new snapshot; data files
        are never rewritten — Spark's Parquet readers upcast the narrow
        on-disk values natively, and every later write lands at the
        wide type. Only loss-free promotions are allowed (int→bigint,
        float→double, …; never bigint→double, whose >2^53 values round).
        Key columns are rejected: the bucket layout hashes key VALUES
        type-sensitively (xxhash64 of int 5 ≠ long 5), so widening a key
        would silently re-home every row. Time travel to a pre-widen
        snapshot reads the narrow type, like every other DDL here. The
        agg engine's canonical use: a sum state outgrowing int."""
        m = self.manifest()
        schema = schema_from_manifest(m["schema"])
        field = next((f for f in schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"no column {name!r}")
        if name in m["key_cols"]:
            raise ValueError(
                f"cannot widen key column {name!r}: bucket hashes are "
                "type-sensitive — widening would re-home every row"
            )
        pair = (field.dataType.simpleString(), new_type.simpleString())
        if pair == (pair[0], pair[0]):
            raise ValueError(f"{name} is already {pair[0]}")
        if pair not in self._SAFE_WIDENINGS:
            raise ValueError(
                f"unsafe type change {pair[0]} → {pair[1]} for {name!r}: "
                f"allowed promotions are {sorted(self._SAFE_WIDENINGS)}"
            )
        fields = [
            T.StructField(f.name, new_type, f.nullable, f.metadata)
            if f.name == name
            else f
            for f in schema.fields
        ]
        return self._commit_snapshot(m, self._pinned(
            m["version"], {"schema": schema_to_manifest(T.StructType(fields))}
        ))["version"]

    # -------------------------------------------------------- constraints

    def _resolve_constraint(
        self, expr: str, schema: T.StructType, name: str
    ) -> None:
        """Parse + resolve a constraint expression against a schema —
        an empty-frame select, no job. Raises ValueError with the
        constraint name when a column it references doesn't exist or
        the expression isn't boolean."""
        probe = self.spark.createDataFrame(
            [], T.StructType(list(schema.fields))
        ).withColumn(DELETED_COL, F.lit(False))
        try:
            dt = probe.select(F.expr(expr).alias("_ok")).schema[0].dataType
        except Exception as e:
            raise ValueError(
                f"constraint {name!r} does not resolve against the "
                f"table schema: {expr!r} ({e})"
            ) from None
        if not isinstance(dt, T.BooleanType):
            raise ValueError(
                f"constraint {name!r} must be a boolean expression, "
                f"{expr!r} is {dt.simpleString()}"
            )

    def add_constraint(
        self, name: str, expr: str, mode: str = "fail"
    ) -> int:
        """Table-level CHECK constraint (Delta ``ALTER TABLE ... ADD
        CONSTRAINT`` analog), enforced on every merge batch AFTER the
        sink-boundary cast (constraints judge table-typed values, not
        whatever junk the source carried). Tombstone events (op='D')
        are exempt — deletes carry null payloads by design.

        ``mode='fail'``: any violating row aborts the merge with
        :class:`ConstraintViolation` before a file is written (one
        ``limit(1)`` probe per batch, the ``assert_unique_keys``
        pattern). ``mode='dead_letter'``: violating rows divert to the
        dead-letter queue INSIDE the fused delta-write job — same
        single scan + exchange — and the batch commits without them;
        requires the merge to run with a dead-letter sink (the pipeline
        path on MOR+lww), otherwise violations fail the batch as a
        sink-less fallback."""
        if mode not in ("fail", "dead_letter"):
            raise ValueError(f"mode must be fail|dead_letter, got {mode!r}")
        m = self.manifest()
        cons = dict(m["properties"].get(CONSTRAINTS_PROP, {}))
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        self._resolve_constraint(
            expr, schema_from_manifest(m["schema"]), name
        )
        cons[name] = {"expr": expr, "mode": mode}
        return self._commit_snapshot(m, self._pinned(
            m["version"],
            {"properties": {**m["properties"], CONSTRAINTS_PROP: cons}},
        ))["version"]

    def drop_constraint(self, name: str) -> int:
        m = self.manifest()
        cons = dict(m["properties"].get(CONSTRAINTS_PROP, {}))
        if name not in cons:
            raise ValueError(f"no constraint {name!r}")
        del cons[name]
        return self._commit_snapshot(m, self._pinned(
            m["version"],
            {"properties": {**m["properties"], CONSTRAINTS_PROP: cons}},
        ))["version"]

    def constraints(self) -> dict:
        return dict(
            self.manifest()["properties"].get(CONSTRAINTS_PROP, {})
        )

    # -------------------------------------------------------- stats columns

    _STATS_TYPES = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.StringType,
        T.TimestampType, T.DateType,
    )

    def set_stats_columns(self, cols: list[str]) -> int:
        """Declare secondary columns whose per-FILE min/max bounds are
        recorded in every subsequent commit's manifest (the Iceberg
        manifest-entry ``lower_bounds``/``upper_bounds`` analog, beyond
        the always-on key/lsn dir bounds). :meth:`read_range` plans
        range scans from these — at 10^10 rows the point is skipping
        whole files from DRIVER-SIDE metadata, before any task launches
        or footer is opened on the scan path.

        Metadata-only commit. Files written BEFORE the declaration carry
        no bounds and are conservatively kept by every range scan until
        a :meth:`compact` rewrites them (which re-collects stats) —
        pruning is an optimization, never a correctness dependency."""
        m = self.manifest()
        schema = schema_from_manifest(m["schema"])
        by_name = {f.name: f for f in schema.fields}
        for c in cols:
            if c not in by_name:
                raise ValueError(f"no column {c!r} in the table schema")
            if not isinstance(by_name[c].dataType, self._STATS_TYPES):
                raise ValueError(
                    f"stats column {c!r} must be a numeric, string, "
                    f"timestamp or date column, got "
                    f"{by_name[c].dataType.simpleString()}"
                )
        return self._commit_snapshot(m, self._pinned(
            m["version"],
            {"properties": {
                **m["properties"], STATS_COLS_PROP: sorted(set(cols))
            }},
        ))["version"]

    def stats_columns(self) -> list[str]:
        return list(
            self.manifest()["properties"].get(STATS_COLS_PROP, [])
        )

    # -------------------------------------------------------------- ANALYZE

    def analyze(self, columns: list[str] | None = None) -> int:
        """ANALYZE TABLE — the Iceberg Puffin statistics-file analog:
        ONE aggregation pass over the resolved live state computing the
        live row count plus, per column, the approximate NDV (HLL++,
        rsd 0.01 — the sketch a 100 TB profile job can actually afford;
        exact distinct is the thing that stops scaling) and the exact
        null count. Stored in the manifest under ``engine.table-stats``
        keyed by PHYSICAL column name, so the numbers survive renames,
        with the snapshot version they were computed at — a CBO, a
        join-side picker or a curation planner reads
        :meth:`table_stats` instead of paying its own O(table) pass,
        and decides staleness from ``computed_at_version``.

        Metadata-only CAS commit (retried on conflict; the stats stay
        attributed to the snapshot they were computed AT, whatever base
        they land on). Returns the new version."""
        m = self.manifest()
        schema = schema_from_manifest(m["schema"])
        by_name = {f.name: f for f in schema.fields}
        cols = list(columns) if columns is not None else [
            f.name for f in schema.fields
        ]
        for c in cols:
            if c not in by_name:
                raise ValueError(f"no column {c!r} in the table schema")
        df = self.read(version=m["version"])
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for i, c in enumerate(cols):
            aggs.append(
                F.approx_count_distinct(c, rsd=0.01).alias(f"__ndv{i}")
            )
            aggs.append(
                F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nul{i}")
            )
        row = df.agg(*aggs).first()
        stats = {
            "computed_at_version": m["version"],
            "computed_at": time.time(),
            "live_rows": int(row["__rows"]),
            "columns": {
                physical_name(by_name[c]): {
                    "ndv": int(row[f"__ndv{i}"]),
                    "nulls": int(row[f"__nul{i}"]),
                }
                for i, c in enumerate(cols)
            },
        }
        return self._commit_properties({TABLE_STATS_PROP: stats})

    def analyze_incremental(
        self,
        columns: list[str] | None = None,
        lg_k: int = 12,
        reset: bool = False,
    ) -> int:
        """Incremental ANALYZE via MERGEABLE HLL sketches (Datasketches
        — the Iceberg Puffin ``apache-datasketches-hll-v1`` blob
        analog): the first call (or ``reset=True``) sketches the
        current live state; every later call folds ONLY the commits
        since the stored watermark into the stored sketches via
        ``hll_union`` — stats maintenance at O(changes), never
        O(table), which is the only affordable shape at 10^10 events.

        Semantics, stated honestly: a sketch cannot retract, so the NDV
        estimate covers every value EVER written to the column since
        the (re)seed — deletes and overwrites never decrease it. That
        is the right number for join planning and cardinality-growth
        monitoring (and exactly what Puffin NDV blobs are); for
        live-state numbers run the full :meth:`analyze`. Null counts
        are cumulative over applied change events on the same terms.

        A watermark older than the retention horizon makes
        ``read_changes_since`` raise its clear error — re-seed with
        ``reset=True``. Sketches are stored base64 in the manifest
        (~4 KB per column at ``lg_k=12``, ~1-2 % relative error),
        keyed by PHYSICAL name. Returns the committed version."""
        import base64

        m = self.manifest()
        schema = schema_from_manifest(m["schema"])
        by_name = {f.name: f for f in schema.fields}
        cols = list(columns) if columns is not None else [
            f.name for f in schema.fields
        ]
        for c in cols:
            if c not in by_name:
                raise ValueError(f"no column {c!r} in the table schema")
        prior = m.get("properties", {}).get(SKETCH_STATS_PROP)
        if reset:
            prior = None
        if prior is not None and prior.get("lg_k") != lg_k:
            raise ValueError(
                f"stored sketches use lg_k={prior.get('lg_k')}; pass "
                "reset=True to re-seed at a different precision"
            )
        if prior is None:
            src = self.read(version=m["version"])
            since = m["version"]
        else:
            since = m["version"]
            if prior["since_version"] == m["version"]:
                return m["version"]  # nothing new to fold
            # O(changes): only the delta commits since the watermark.
            # Tombstone rows carry null payloads — they add nothing to
            # the sketches and count into nulls, consistent with the
            # ever-written semantics.
            src = self.read_changes_since(
                prior["since_version"], m["version"]
            ).select(*[c for c in cols])
        aggs = []
        for i, c in enumerate(cols):
            col = F.col(c)
            if not isinstance(by_name[c].dataType, T.StringType):
                # hll_sketch_agg accepts int/long/string/binary/float —
                # normalize everything through a canonical string form
                col = col.cast("string")
            aggs.append(F.hll_sketch_agg(col, lg_k).alias(f"__sk{i}"))
            aggs.append(
                F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nul{i}")
            )
        row = src.agg(*aggs).first()
        merged: dict[str, dict] = {}
        for i, c in enumerate(cols):
            pcol = physical_name(by_name[c])
            sk = row[f"__sk{i}"]
            nulls = int(row[f"__nul{i}"])
            if prior is not None and pcol in prior.get("columns", {}):
                old = prior["columns"][pcol]
                old_sk = base64.b64decode(old["sketch"])
                if sk is None:
                    sk = old_sk
                else:
                    # one O(1) driver-side union job over two blobs
                    sk = bytes(
                        self.spark.createDataFrame(
                            [(bytearray(old_sk), bytearray(sk))],
                            "a binary, b binary",
                        )
                        .select(F.hll_union("a", "b").alias("u"))
                        .first()["u"]
                    )
                nulls += old["nulls"]
            elif sk is None:
                # empty source and no prior: an empty sketch via a
                # zero-row aggregation is not representable — store
                # nothing; the column seeds on the next fold with data
                continue
            merged[pcol] = {
                "sketch": base64.b64encode(bytes(sk)).decode(),
                "nulls": nulls,
            }
        stats = {
            "lg_k": lg_k,
            "since_version": since,
            "computed_at": time.time(),
            "columns": merged,
        }
        return self._commit_properties({SKETCH_STATS_PROP: stats})

    def sketch_stats(self) -> dict | None:
        """The incremental-ANALYZE estimates under LOGICAL names:
        ``{column: {"ndv_ever": estimate, "nulls": n}}`` plus the
        watermark version — one O(1) driver-side estimate job over the
        stored blobs."""
        import base64

        m = self.manifest()
        raw = m.get("properties", {}).get(SKETCH_STATS_PROP)
        if raw is None:
            return None
        schema = schema_from_manifest(m["schema"])
        to_logical = {physical_name(f): f.name for f in schema.fields}
        cols = [
            (p, s) for p, s in raw.get("columns", {}).items()
            if p in to_logical
        ]
        out = {
            k: v for k, v in raw.items()
            if k not in ("columns",)
        }
        if cols:
            df = self.spark.createDataFrame(
                [
                    tuple(
                        bytearray(base64.b64decode(s["sketch"]))
                        for _, s in cols
                    )
                ],
                ", ".join(f"c{i} binary" for i in range(len(cols))),
            )
            row = df.select(
                *[
                    F.hll_sketch_estimate(f"c{i}").alias(f"e{i}")
                    for i in range(len(cols))
                ]
            ).first()
            out["columns"] = {
                to_logical[p]: {
                    "ndv_ever": int(row[f"e{i}"]),
                    "nulls": s["nulls"],
                }
                for i, (p, s) in enumerate(cols)
            }
        else:
            out["columns"] = {}
        return out

    def table_stats(self, version: int | None = None) -> dict | None:
        """The last ANALYZE result under LOGICAL column names (the
        physical keys in the manifest are translated through the
        CURRENT schema), or None if the table was never analyzed."""
        m = self.manifest(version)
        raw = m.get("properties", {}).get(TABLE_STATS_PROP)
        if raw is None:
            return None
        schema = schema_from_manifest(m["schema"])
        to_logical = {physical_name(f): f.name for f in schema.fields}
        return {
            **{k: v for k, v in raw.items() if k != "columns"},
            "columns": {
                to_logical[p]: dict(s)
                for p, s in raw.get("columns", {}).items()
                if p in to_logical  # dropped columns fall out of view
            },
        }

    def inspect_stats(self, version: int | None = None) -> DataFrame:
        """One row per analyzed column: name, approx NDV, null count,
        plus the snapshot the numbers were computed at (compare with
        the current version to judge staleness)."""
        s = self.table_stats(version)
        rows = []
        if s is not None:
            rows = [
                (c, v["ndv"], v["nulls"], s["computed_at_version"],
                 s["live_rows"])
                for c, v in sorted(s["columns"].items())
            ]
        return self.spark.createDataFrame(
            rows,
            "column string, ndv long, nulls long, "
            "computed_at_version int, live_rows long",
        )

    # ------------------------------------------------------------- z-order

    _ZORDER_TYPES = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType,
        T.TimestampType, T.DateType,
        T.StringType,
    )

    @staticmethod
    def _zorder_double(col, dtype):
        """Order-preserving double view of a z-order column (timestamps
        as epoch micros, dates as epoch days — ANSI mode forbids the
        direct timestamp→double cast).

        Strings map through their first 6 UTF-8 bytes read as a
        big-endian integer (2^48 < 2^53, exactly representable in a
        double): zero-RIGHT-padding the hex keeps the bytewise order
        (\\x00 sorts below every byte), so the mapping is monotone in
        binary collation. Strings sharing a 6-byte prefix collapse to
        one rank — pure resolution loss, the same clamp-not-correctness
        trade the numeric normalization already makes."""
        if isinstance(dtype, T.TimestampType):
            return F.unix_micros(col).cast("double")
        if isinstance(dtype, T.DateType):
            return F.unix_date(col).cast("double")
        if isinstance(dtype, T.StringType):
            return F.conv(
                F.rpad(
                    F.hex(F.substring(col.cast("binary"), 1, 6)),
                    12,
                    "0",
                ),
                16,
                10,
            ).cast("double")
        return col.cast("double")

    @staticmethod
    def _zorder_expr(cols, mins, maxs):
        """Bit-interleaved z-value over double Columns with fixed
        normalization bounds — pure Column bit arithmetic, whole-stage
        codegen'd, no Python on the data path. Each column maps to a
        ``bits``-bit rank (clamped to the bounds; null and NaN rank at
        the top so they cluster in one corner), and rank bits interleave
        round-robin so no dimension dominates the file layout."""
        k = len(cols)
        bits = min(16, 63 // k)
        mask = (1 << bits) - 1
        z = F.lit(0).cast("long")
        for j, (c, mn, mx) in enumerate(zip(cols, mins, maxs)):
            mn, mx = float(mn), float(mx)
            span = (mx - mn) or 1.0
            # null → +inf → clamps to the top rank; NaN compares above
            # any double in Spark's total order, so least() also yields
            # the top rank — no ANSI cast traps either way
            x = F.coalesce(
                (c - F.lit(mn)) / F.lit(span) * F.lit(float(mask)),
                F.lit(float("inf")),
            )
            x = F.least(
                F.lit(float(mask)), F.greatest(F.lit(0.0), x)
            )
            rank = F.floor(x)  # long in [0, mask]
            for i in range(bits):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(rank, i).bitwiseAND(F.lit(1)),
                        i * k + j,
                    )
                )
        return z

    # ----------------------------------------------------------------- DML

    def _dml_source(self, predicate: str) -> tuple[DataFrame, int, int]:
        """Shared DELETE/UPDATE front half: the current live rows
        matching ``predicate`` plus the LSN the synthetic events write
        at (current max + 1 — they beat every event already applied;
        an event a concurrent tail delivers LATER with a higher LSN
        wins over the DML, which is exactly CDC semantics: the stream
        stays the source of truth). batch_id is the current version —
        strictly monotonic per DML stream because every commit bumps
        it."""
        m = self.manifest()
        rows = self.read().filter(F.expr(predicate))
        next_lsn = int(m["properties"].get(MAX_LSN_PROP, -1)) + 1
        return rows, next_lsn, m["version"]

    def delete_where(self, predicate: str) -> "MergeResult":
        """``DELETE FROM t WHERE predicate`` (Spark/Delta/Iceberg
        row-level DELETE): matching live keys get tombstone events one
        LSN above the table's high-water, applied through the normal
        MERGE — fenced, snapshot-committed, CDC-visible downstream
        (read_changes_since serves the tombstones; replication and MV
        refresh consume them like any delete). O(scan) + O(matches),
        no file rewritten in MOR mode. The retention/GDPR primitive:
        pair with compact(drop_tombstones=True) to physically erase."""
        rows, lsn, ver = self._dml_source(predicate)
        key_cols = self.manifest()["key_cols"]
        src = rows.select(
            *key_cols,
            F.lit(lsn).alias("lsn"),
            F.lit("D").alias("op"),
        )
        return self.merge(src, batch_id=ver, stream_id="dml")

    def update_where(
        self, predicate: str, assignments: dict[str, str]
    ) -> "MergeResult":
        """``UPDATE t SET col = expr, ... WHERE predicate``: matching
        live rows re-merge as full-row update events with the
        assignment expressions applied (evaluated against the row, so
        ``{"text": "upper(text)"}`` works), one LSN above the
        high-water. Goes through the normal MERGE — CHECK constraints
        judge the updated rows, fences and CDC-out apply. Key columns
        cannot be assigned (that's a delete + insert, not an update)."""
        key_cols = self.manifest()["key_cols"]
        schema = self.schema()
        names = {f.name for f in schema.fields}
        for c in assignments:
            if c in key_cols:
                raise ValueError(
                    f"cannot assign key column {c!r} — delete and "
                    "re-insert instead"
                )
            if c not in names:
                raise ValueError(f"no column {c!r}")
        rows, lsn, ver = self._dml_source(predicate)
        payload = [f.name for f in schema.fields if f.name not in key_cols]
        src = rows.select(
            *key_cols,
            *[
                (
                    F.expr(assignments[c]).cast(
                        next(
                            f.dataType
                            for f in schema.fields
                            if f.name == c
                        )
                    )
                    if c in assignments
                    else F.col(c)
                ).alias(c)
                for c in payload
            ],
            F.lit(lsn).alias("lsn"),
            F.lit("U").alias("op"),
        )
        return self.merge(src, batch_id=ver, stream_id="dml")

    # -------------------------------------------------------------- reads

    def _bucket_expr(self, key_col: str, n_buckets: int):
        # Iceberg bucket(N, col) analog: stable hash → non-negative mod.
        return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")

    def _dir_physical_cols(self, d: str) -> frozenset[str]:
        """Physical column names present in a data dir's files, from ONE
        Parquet footer (a dir is written by a single Spark job, so one
        schema per dir), memoized forever (dirs are immutable once
        committed). Driver-side metadata, same cost class as the
        manifest file-stats footer reads."""
        got = self._footer_cols_memo.get(d)
        if got is None:
            import pyarrow.parquet as pq

            cols: set[str] = set()
            try:
                for name in os.listdir(d):
                    if name.endswith(".parquet"):
                        md = pq.read_metadata(os.path.join(d, name))
                        cols = {
                            md.schema.column(i).name
                            for i in range(md.num_columns)
                        }
                        break
            except OSError:
                pass
            got = frozenset(cols)
            self._footer_cols_memo[d] = got
        return got

    def _read_files(
        self,
        dirs: list[str],
        version: int | None = None,
        file_filter: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """Scan under PHYSICAL names, surface LOGICAL names — the single
        choke point that makes column renames metadata-only: every
        caller (reads, LWW folds, compaction, CDC-out) sees the logical
        schema; files are never rewritten.

        Columns added with an ``initial-default`` surface the default
        for dirs whose files predate the column (the footer lacks the
        physical name) and the stored value — explicit nulls included —
        everywhere else. Tables without defaults take the single-scan
        fast path untouched; tables with them read one union branch per
        distinct missing-column set (in practice two: pre-add and
        post-add), each branch still one pruned Parquet scan."""
        schema = self.physical_read_schema(version)
        logical = self.schema(version)
        defaulted = [
            (physical_name(f), f) for f in logical.fields
            if initial_default(f) is not None
        ]
        # ONE-SHOT projection, not sequential withColumnRenamed: a chain
        # of renames can make one field's logical name equal another
        # field's still-physical name mid-sequence (p1→p3 then p2→p1),
        # and a sequential rename then hits two columns with the same
        # name and corrupts the frame (property-tested in
        # tests/test_property_evolution.py).
        mapping = {}
        for f in logical.fields:
            mapping[physical_name(f)] = f.name
            # partial-engine write-LSN siblings track their column's
            # physical name on disk, logical name in memory
            mapping[vl_col(physical_name(f))] = vl_col(f.name)

        def _project(df: DataFrame, missing: frozenset[str]) -> DataFrame:
            exprs = []
            for c in df.columns:
                if c in missing:
                    f = dict(defaulted)[c]
                    exprs.append(
                        F.lit(initial_default(f))
                        .cast(f.dataType)
                        .alias(f.name)
                    )
                else:
                    exprs.append(F.col(c).alias(mapping.get(c, c)))
            return df.select(*exprs)

        # file_filter (read_range's per-file pruning) narrows a dir to a
        # subset of its files; schema decisions still key on the DIR —
        # a dir is written by one Spark job, so its files share a footer
        # schema and the dir-level physical-cols memo stays valid.
        def _paths(d: str) -> list[str]:
            if file_filter is None:
                return [d]
            return file_filter.get(d, [d])

        if not dirs:
            return _project(
                self.spark.createDataFrame([], schema), frozenset()
            )
        if not defaulted:
            return _project(
                self.spark.read.schema(schema).parquet(
                    *[p for d in dirs for p in _paths(d)]
                ),
                frozenset(),
            )
        groups: dict[frozenset[str], list[str]] = {}
        for d in dirs:
            present = self._dir_physical_cols(d)
            missing = frozenset(
                p for p, _ in defaulted if p not in present
            )
            groups.setdefault(missing, []).extend(_paths(d))
        parts = [
            _project(self.spark.read.schema(schema).parquet(*ds), missing)
            for missing, ds in sorted(groups.items(), key=lambda kv: sorted(kv[0]))
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _to_physical(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """The write-side twin of :meth:`_read_files`'s aliasing: rename
        logical columns back to their physical (on-disk) names just
        before a file write, so a column's physical name stays immutable
        for its lifetime whatever renames happened logically."""
        # one-shot projection for the same reason as _read_files: after a
        # rename chain, a field's physical name may equal ANOTHER live
        # field's logical name — sequential renames would collide
        mapping = {}
        for f in schema.fields:
            if f.name in df.columns:
                mapping[f.name] = physical_name(f)
            if vl_col(f.name) in df.columns:
                mapping[vl_col(f.name)] = vl_col(physical_name(f))
        return df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )

    def read_physical(self, version: int | None = None) -> DataFrame:
        m = self.manifest(version)
        dirs = [d for ds in m["buckets"].values() for d in ds]
        return self._read_files(dirs, version=m["version"])

    def version_as_of(self, ts: float) -> int:
        """Largest committed version with ``committed_at <= ts`` (Iceberg
        ``TIMESTAMP AS OF`` analog). Raises if the table is younger than
        ``ts`` reaches back (or retention GC dropped the snapshots)."""
        versions = sorted(
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
        )
        best = None
        for v in versions:
            if self.manifest(v).get("committed_at", 0) <= ts:
                best = v
        if best is None:
            raise ValueError(f"no snapshot committed at or before {ts}")
        return best

    def _fold(
        self,
        df: DataFrame,
        m: dict,
        keys: list[str] | None = None,
        lineage: bool = False,
        payload_subset: list[str] | None = None,
    ) -> DataFrame:
        """Per-key state resolution under the table's merge engine: the
        LWW whole-row reduce by default, the column-coalescing partial
        fold for ``merge_engine='partial'`` tables. Both are ONE
        aggregation over the same clustering (for LWW a partial + final
        SortAggregate: the max(struct) buffer holds strings, so it has
        no fixed-width hash layout; over a bucket-clustered input both
        run after the one Exchange); every resolve site (read, merge
        pre-reduce including the fused dead-letter fold, compaction,
        rescale, net diff) dispatches here so the engines stay
        interchangeable.

        ``lineage=True`` (delta pre-reduce / compaction / rescale on a
        ``row_lineage`` table) additionally maintains the per-key
        ``_birth_lsn``/``_tomb_lsn`` summaries — the sites that DISCARD
        loser events must fold lineage into the survivors or it is lost
        forever. Plain reads never pass it: the state view doesn't need
        birth, and the lineage fold adds a window over the group keys
        (whose sort the aggregation reuses) inside the same single
        Exchange.

        ``payload_subset`` (projected reads, lww engine only) folds over
        just those payload columns so Catalyst's column pruning reaches
        the Parquet scan — sound because LSNs are unique per key up to
        byte-identical duplicate deliveries (the ingest contract), so
        the winner never depends on which payload columns ride in the
        tie-break struct. The partial/agg engines ignore it: their
        on-disk fold layout is itself per-column state, and dropping a
        column there would drop its fold."""
        keys = keys if keys is not None else list(m["key_cols"])
        schema = schema_from_manifest(m["schema"])
        payload_fields = [
            f for f in schema.fields if f.name not in m["key_cols"]
        ]
        payload = [f.name for f in payload_fields]
        engine = m.get("merge_engine", "lww")
        if (
            payload_subset is not None
            and engine == "lww"
            and not lineage
        ):
            payload = [c for c in payload if c in payload_subset]
        if engine == "partial":
            return partial_fold(df, keys=keys, payload_cols=payload)
        if engine == "agg":
            spec = m.get("agg_spec", {})
            return agg_fold(
                df,
                keys=keys,
                spec_by_logical={
                    f.name: spec.get(physical_name(f), "last")
                    for f in payload_fields
                },
            )
        # merge's fused dead-letter frame (lww only) carries the DLQ
        # forensic columns; they ride the winner struct after _deleted
        payload += [DELETED_COL] + [
            c for c in (SRC_OP_COL, RAW_COL) if c in df.columns
        ]
        if lineage and m.get("properties", {}).get(ROW_LINEAGE_PROP):
            return lww_reduce_with_lineage(
                df, keys=keys, order_col=LSN_COL, payload_cols=payload,
                deleted_col=DELETED_COL,
                birth_col=BIRTH_COL, tomb_col=TOMB_COL,
            )
        return lww_reduce(
            df, keys=keys, order_col=LSN_COL, payload_cols=payload
        )

    def _fold_scan(
        self, df: DataFrame, m: dict, payload_subset: list[str] | None = None
    ) -> DataFrame:
        """Fold a snapshot scan the way :meth:`compact` does: the scan
        coalesced to one task per slot (deltas are many small per-bucket
        files, each otherwise its own scan task), the buckets packed onto
        the slots (:func:`_place_buckets`), and the fold run inside that
        clustering with keys ``(_bucket, keys…, _part_spread)`` — one
        Exchange, no ``spark.sql.shuffle.partitions`` reduce. The helper
        columns are dropped again."""
        df = _place_buckets(
            df.coalesce(_task_slots(self.spark)).withColumn(
                BUCKET_COL,
                self._bucket_expr(m["key_cols"][0], m["n_buckets"]),
            ),
            list(range(m["n_buckets"])),
        )
        return self._fold(
            df, m,
            keys=[BUCKET_COL] + list(m["key_cols"]) + [SPREAD_COL],
            payload_subset=payload_subset,
        ).drop(BUCKET_COL, SPREAD_COL)

    def read(
        self,
        version: int | None = None,
        as_of_ts: float | None = None,
        tag: str | None = None,
        branch: str | None = None,
        columns: list[str] | None = None,
        _dirs: list[str] | None = None,
        _file_filter: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """The logical read view: live rows only, bookkeeping hidden.
        ``version`` / ``as_of_ts`` / ``tag`` select a historical snapshot
        (VERSION AS OF / TIMESTAMP AS OF / ``VERSION AS OF 'tag-name'``);
        ``branch`` reads a branch ref (base snapshot + every branch
        commit, LWW-folded — what main WOULD show after fast_forward).

        ``columns`` is the PROJECTED read: on a live (unfolded) MOR
        table the LWW resolve normally references every payload column
        (the winner is a whole row), which blocks Catalyst's column
        pruning — a one-column profile would scan the full width. With
        ``columns`` the fold runs over only the requested payload
        subset, so the pruning reaches the Parquet scan; at a wide
        100 TB table that is the difference between scanning 3 columns
        and scanning 40. Sound under the ingest contract (LSNs unique
        per key up to byte-identical duplicates); the partial/agg
        engines project after their full fold instead.

        On a merge-on-read table the per-key LWW resolution happens here
        (deltas may hold many versions of a key); copy-on-write tables
        are already key-unique on disk and skip the shuffle."""
        if sum(x is not None for x in (version, as_of_ts, tag, branch)) > 1:
            raise ValueError(
                "pass at most one of version, as_of_ts, tag, branch"
            )
        if branch is not None:
            bdesc = self._load_branch(branch)
            version = bdesc["base_version"]
            bm = self.manifest(version)
            _dirs = [d for ds in bm["buckets"].values() for d in ds] + [
                d
                for c in self._branch_commits(branch)
                for d in sorted(c["delta_dirs"].values())
            ]
        elif tag is not None:
            version = self.tag_version(tag)
        elif as_of_ts is not None:
            version = self.version_as_of(as_of_ts)
        m = self.manifest(version)
        schema = schema_from_manifest(m["schema"])
        cols = [f.name for f in schema.fields]
        if columns is not None:
            if not columns:
                raise ValueError("columns must be non-empty or None")
            missing = [c for c in columns if c not in cols]
            if missing:
                raise ValueError(
                    f"columns {missing} not in the table schema"
                )
            out_cols = list(columns)
        else:
            out_cols = cols
        if _dirs is None:
            _dirs = [d for ds in m["buckets"].values() for d in ds]
        phys = self._read_files(
            _dirs, version=m["version"], file_filter=_file_filter
        )
        if m.get("write_mode", "cow") == "mor" and not (
            # fold-skip: a snapshot where every bucket is exactly ONE
            # compaction/rescale output dir is already key-unique per
            # bucket (both rewrite the RESOLVED state), so the LWW
            # reduce would be an identity shuffle — the whole-table
            # Exchange dashboards pay on every read of a
            # freshly-maintained table, for nothing. The one-dir-per-
            # bucket requirement is belt-and-braces against overlapping
            # rewrites ever co-registering (compact()'s conflict retry
            # now drops redundant folds, but a skipped fold must never
            # be able to double rows). lww only: the partial/agg folds
            # also project the on-disk fold layout back to payload
            # columns and can never skip.
            m.get("merge_engine", "lww") == "lww"
            and _dirs
            and snapshot_is_resolved(m, dirs=_dirs)
        ):
            phys = self._fold_scan(phys, m, payload_subset=out_cols)
        return phys.filter(~F.col(DELETED_COL)).select(*out_cols)

    def read_tombstones(self, version: int | None = None) -> DataFrame:
        """The deleted-key registry: keys whose LWW winner is a tombstone,
        with the deleting LSN. This is the surface that makes "a late
        stale update can never resurrect a deleted key" auditable —
        tombstones are physical rows, not absences. Output: key cols +
        ``_lsn`` (the tombstone's LSN)."""
        m = self.manifest(version)
        schema = schema_from_manifest(m["schema"])
        cols = [f.name for f in schema.fields]
        phys = self.read_physical(version)
        if m.get("write_mode", "cow") == "mor":
            phys = self._fold_scan(phys, m)
        return phys.filter(F.col(DELETED_COL)).select(
            *m["key_cols"], LSN_COL
        )

    def enable_row_lineage(self) -> int:
        """Turn on row-lineage tracking for an existing table
        (metadata-only commit; the Iceberg-v3 ``enable row lineage``
        analog). Requires the MOR + LWW combination like
        ``create(row_lineage=True)``.

        Precision caveat, stated once and honestly: events folded away
        BEFORE enablement are gone, so a key whose live segment began
        before this commit reads its birth as the earliest event that
        still physically exists for it (its folded winner's own LSN).
        Keys whose segments begin after this commit are exact. Tables
        created with ``row_lineage=True`` are exact from birth."""
        base = self.manifest()
        if base.get("merge_engine", "lww") != "lww" or (
            base.get("write_mode", "cow") != "mor"
        ):
            raise ValueError(
                "row lineage requires write_mode='mor' and "
                "merge_engine='lww'"
            )
        if base.get("properties", {}).get(ROW_LINEAGE_PROP):
            return base["version"]
        return self._commit_properties({ROW_LINEAGE_PROP: True})

    def read_lineage(
        self,
        version: int | None = None,
        include_tombstones: bool = False,
        with_commit: bool = False,
    ) -> DataFrame:
        """Per-row lineage view — the Iceberg v3 row-lineage analog
        (``_row_id`` / ``_last_updated_sequence_number``) re-expressed
        in LSN space so it is verifiable against the change stream:

        - ``birth_lsn``: LSN of the event that created the key's
          current live incarnation (stable across updates; a delete +
          re-insert makes a NEW row and a new birth, per Iceberg).
        - ``last_lsn``: LSN of the last event applied to the row (the
          LWW winner).
        - ``last_commit_version`` (``with_commit=True``): the snapshot
          that committed the winning event, derived from each commit's
          recorded max-LSN watermark — rows older than the retention
          horizon attribute to the oldest surviving merge commit.

        One key-clustered window + aggregation over the snapshot's
        files; compacted files carry materialized summaries, so the
        input is O(live keys + un-compacted delta rows), never the
        event history. Exact for tables created with
        ``row_lineage=True`` under LSN-ordered cross-batch delivery
        (the WAL contract); see :meth:`enable_row_lineage` for the
        mid-life-enablement precision caveat, and the tests for the
        pinned commit-ordered resolution of cross-batch stragglers."""
        m = self.manifest(version)
        if m.get("merge_engine", "lww") != "lww" or (
            m.get("write_mode", "cow") != "mor"
        ):
            raise ValueError(
                "row lineage requires write_mode='mor' and "
                "merge_engine='lww'"
            )
        schema = schema_from_manifest(m["schema"])
        payload = [
            f.name for f in schema.fields if f.name not in m["key_cols"]
        ]
        dirs = [d for ds in m["buckets"].values() for d in ds]
        phys = self._read_files(dirs, version=m["version"])
        folded = lww_reduce_with_lineage(
            phys,
            keys=list(m["key_cols"]),
            order_col=LSN_COL,
            payload_cols=payload + [DELETED_COL],
            deleted_col=DELETED_COL,
            birth_col=BIRTH_COL,
            tomb_col=TOMB_COL,
        )
        out = folded.select(
            *m["key_cols"],
            F.col(BIRTH_COL).alias("birth_lsn"),
            F.col(LSN_COL).alias("last_lsn"),
            F.col(DELETED_COL),
        )
        if not include_tombstones:
            out = out.filter(~F.col(DELETED_COL)).drop(DELETED_COL)
        if with_commit:
            # commit attribution from each surviving snapshot's max-LSN
            # watermark: O(versions) driver-side manifest reads building
            # a tiny broadcast range dimension — the same accepted
            # control-plane pattern as the point-lookup planner
            bounds: list[tuple[int, int, int]] = []
            prev = -1
            for v in sorted(
                int(os.path.basename(p)[1:-5])
                for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
            ):
                try:
                    mv = self.manifest(v)
                except Exception:
                    continue
                mx = mv.get("properties", {}).get(MAX_LSN_PROP, -1)
                if mx is not None and mx > prev:
                    bounds.append((v, prev, mx))
                    prev = mx
            vdf = self.spark.createDataFrame(
                bounds,
                T.StructType([
                    T.StructField(
                        "last_commit_version", T.IntegerType(), False
                    ),
                    T.StructField("_lsn_lo", T.LongType(), False),
                    T.StructField("_lsn_hi", T.LongType(), False),
                ]),
            )
            out = out.join(
                F.broadcast(vdf),
                (F.col("last_lsn") > F.col("_lsn_lo"))
                & (F.col("last_lsn") <= F.col("_lsn_hi")),
                "left",
            ).drop("_lsn_lo", "_lsn_hi")
        return out

    def read_for_keys(
        self, values: list, version: int | None = None
    ) -> DataFrame:
        """Point-lookup read path: the bucket layout makes single-key
        access O(table / n_buckets). The keys' buckets are computed with
        the SAME expression the writer used (one tiny job over the key
        literals — never a guess that could silently diverge), and only
        those buckets' files are scanned before the usual LWW resolve +
        tombstone filter."""
        m = self.manifest(version)
        key0 = m["key_cols"][0]
        schema = schema_from_manifest(m["schema"])
        ktype = next(f.dataType for f in schema.fields if f.name == key0)
        vals_df = self.spark.createDataFrame(
            [(v,) for v in values],
            T.StructType([T.StructField(key0, ktype)]),
        )
        buckets = sorted(
            r[0]
            for r in vals_df.select(self._bucket_expr(key0, m["n_buckets"]))
            .distinct()
            .collect()
        )
        # Second pruning tier after bucket selection: manifest-recorded
        # per-dir key bounds (Iceberg-manifest analog) skip delta files
        # whose key range cannot contain any requested key. Dirs without
        # recorded bounds are always kept — pruning is an optimization,
        # never a correctness dependency.
        stats = m.get("file_stats", {})

        def _may_contain(d: str) -> bool:
            s = stats.get(d)
            if not s:
                return True
            try:
                return any(
                    s["key_min"] <= v <= s["key_max"] for v in values
                )
            except TypeError:  # mixed/incomparable types → keep
                return True

        dirs = [
            d
            for b in buckets
            for d in m["buckets"].get(str(b), [])
            if _may_contain(d)
        ]
        return self.read(version, _dirs=dirs).filter(
            F.col(key0).isin(list(values))
        )

    # --------------------------------------------------------- range scans

    @staticmethod
    def _norm_bound(field: T.StructField, value):
        """Normalize a user range bound for ``field``: returns
        ``(filter_value, encoded_value)`` — the first for the exact
        Column filter, the second in the same order-preserving encoding
        :meth:`_encode_stat_bound` used for the manifest bounds."""
        import datetime

        dt = field.dataType
        if isinstance(dt, T.TimestampType):
            import pandas as pd

            ts = pd.Timestamp(value)
            return ts.to_pydatetime(), int(ts.value // 1000)
        if isinstance(dt, T.DateType):
            d = (
                datetime.date.fromisoformat(value)
                if isinstance(value, str)
                else value
            )
            if isinstance(d, datetime.datetime):
                d = d.date()
            if not isinstance(d, datetime.date):
                raise ValueError(
                    f"bound {value!r} is not a date for {field.name}"
                )
            return d, d.toordinal()
        if isinstance(dt, T.StringType):
            if not isinstance(value, str):
                raise ValueError(
                    f"bound {value!r} is not a string for {field.name}"
                )
            return value, value
        if not isinstance(value, (int, float)) or isinstance(value, bool):
            raise ValueError(
                f"bound {value!r} is not numeric for {field.name}"
            )
        return value, value

    @staticmethod
    def _bounds_intersect(b, lo, hi) -> bool:
        """May a file with recorded bounds ``b`` hold a value in
        [lo, hi]? ``b`` absent/None = unknown → True; ``"empty"`` =
        all-null → False (null never satisfies a range predicate)."""
        if b is None:
            return True
        if b == "empty":
            return False
        try:
            mn, mx = b
            if hi is not None and not (mn <= hi):
                return False
            if lo is not None and not (mx >= lo):
                return False
            return True
        except TypeError:  # incomparable encodings → keep
            return True
        except ValueError:
            return True

    def plan_range_scan(
        self,
        col: str,
        lower=None,
        upper=None,
        version: int | None = None,
    ) -> dict:
        """Single-column :meth:`plan_box_scan`."""
        return self.plan_box_scan({col: (lower, upper)}, version=version)

    def plan_box_scan(
        self,
        bounds: dict[str, tuple],
        version: int | None = None,
    ) -> dict:
        """Driver-side scan planning for :meth:`read_box` /
        :meth:`read_range` — exposed so tests (and operators) can assert
        WHAT would be scanned without running a job. ``bounds`` is a
        CONJUNCTION ``{col: (lower, upper)}`` of closed ranges (either
        side None = open); a file prunes as soon as ANY bounded declared
        dimension's recorded bounds miss its range, so a z-order layout
        multiplies the dimensions' selectivities. Returns ``{"mode",
        "dirs", "file_filter", "files_planned", "files_total"}``; mode
        is ``"file"`` (per-file pruning), ``"bucket"`` (whole-bucket
        pruning), or ``"none"``."""
        m = self.manifest(version)
        schema = schema_from_manifest(m["schema"])
        by_name = {f.name: f for f in schema.fields}
        for col in bounds:
            if col not in by_name:
                raise ValueError(f"no column {col!r} in the table schema")
        all_dirs = [d for ds in m["buckets"].values() for d in ds]
        stats = m.get("file_stats", {})
        files_total = sum(
            len(stats.get(d, {}).get("files", {})) or 1 for d in all_dirs
        )
        no_prune = {
            "mode": "none",
            "dirs": all_dirs,
            "file_filter": None,
            "files_planned": files_total,
            "files_total": files_total,
        }
        declared = set(m["properties"].get(STATS_COLS_PROP, []))
        # pruning dimensions: bounded AND declared (undeclared bounded
        # columns still filter exactly, they just can't prune)
        dims: list[tuple[str, object, object]] = []
        for col, (lower, upper) in bounds.items():
            if (lower is None and upper is None) or col not in declared:
                continue
            f = by_name[col]
            lo = self._norm_bound(f, lower)[1] if lower is not None else None
            hi = self._norm_bound(f, upper)[1] if upper is not None else None
            dims.append((physical_name(f), lo, hi))
        if not dims:
            return no_prune
        if m.get("merge_engine", "lww") == "agg":
            # a sum-fold can land IN range though every physical part is
            # outside it — no granularity of stats pruning is sound
            return no_prune

        def _file_hits(d: str) -> list[str] | None:
            """Kept files of dir d, or None = no usable stats (keep all)."""
            fs = stats.get(d, {}).get("files")
            if fs is None:
                return None
            return [
                os.path.join(d, name)
                for name, fb in fs.items()
                if all(
                    self._bounds_intersect(fb.get(pcol), lo, hi)
                    for pcol, lo, hi in dims
                )
            ]

        # per-file pruning assumes key-unique state on disk, same as
        # read()'s fold-skip
        maintained = m.get("write_mode", "cow") == "cow" or (
            bool(all_dirs) and snapshot_is_resolved(m, dirs=all_dirs)
        )
        if maintained:
            # key-unique resolved state (COW always; MOR once every dir
            # is a compaction/rescale rewrite): dropping a file drops
            # only rows the exact filter would drop — per-FILE pruning
            dirs: list[str] = []
            file_filter: dict[str, list[str]] = {}
            planned = 0
            for d in all_dirs:
                hits = _file_hits(d)
                if hits is None:
                    dirs.append(d)
                    planned += len(stats.get(d, {}).get("files", {})) or 1
                elif hits:
                    dirs.append(d)
                    file_filter[d] = hits
                    planned += len(hits)
            return {
                "mode": "file",
                "dirs": dirs,
                "file_filter": file_filter or None,
                "files_planned": planned,
                "files_total": files_total,
            }
        # MOR with unresolved deltas: per-file pruning is UNSOUND — a
        # pruned file can hold a key's LWW winner (out of range) while a
        # kept delta still holds a stale in-range loser, which the fold
        # would then resurrect. All versions of a key live in ONE bucket,
        # so prune at bucket granularity: a bucket none of whose files
        # can hold an in-range value yields only fold winners the exact
        # filter drops anyway (LWW whole-row and partial-coalesce winner
        # values are physical row values).
        dirs = []
        planned = 0
        for b, ds in m["buckets"].items():
            keep = False
            for d in ds:
                hits = _file_hits(d)
                if hits is None or hits:
                    keep = True
                    break
            if keep:
                dirs.extend(ds)
                planned += sum(
                    len(stats.get(d, {}).get("files", {})) or 1 for d in ds
                )
        return {
            "mode": "bucket",
            "dirs": dirs,
            "file_filter": None,
            "files_planned": planned,
            "files_total": files_total,
        }

    def read_range(
        self,
        col: str,
        lower=None,
        upper=None,
        version: int | None = None,
    ) -> DataFrame:
        """Single-column :meth:`read_box`."""
        return self.read_box({col: (lower, upper)}, version=version)

    def read_box(
        self,
        bounds: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Box scan (conjunction of ranges) with manifest-stats pruning
        (the Iceberg scan-planning analog over :meth:`set_stats_columns`
        bounds). Equivalent BY CONSTRUCTION to ``read(version)`` with
        every ``lower <= col <= upper`` filter applied (bounds
        inclusive, either side open) — pruning only ever drops
        files/buckets that cannot contribute a row the exact filters
        keep, at the granularity the snapshot state makes sound:

        - fully-maintained snapshot or COW table → per-FILE pruning; a
          file prunes when ANY bounded declared dimension excludes it,
          so after ``compact(cluster_cols=[a, b], zorder=True)`` a box
          over (a, b) plans roughly the PRODUCT of the two dimensions'
          file selectivities — the z-order payoff.
        - MOR with unresolved deltas → per-BUCKET pruning (per-file
          would resurrect stale LWW losers; see :meth:`plan_box_scan`).
        - ``'agg'`` merge engine → exact filters only, no pruning.

        At 10^10 rows this is the difference between launching tasks
        over every file of every bucket and a driver-side metadata
        decision — same class as Iceberg's min/max manifest pruning."""
        m = self.manifest(version)
        schema = schema_from_manifest(m["schema"])
        by_name = {f.name: f for f in schema.fields}
        for col in bounds:
            if col not in by_name:
                raise ValueError(f"no column {col!r} in the table schema")
        plan = self.plan_box_scan(bounds, version=version)
        df = self.read(
            version if version is not None else m["version"],
            _dirs=plan["dirs"],
            _file_filter=plan["file_filter"],
        )
        for col, (lower, upper) in bounds.items():
            if lower is not None:
                fv, _ = self._norm_bound(by_name[col], lower)
                df = df.filter(F.col(col) >= F.lit(fv))
            if upper is not None:
                fv, _ = self._norm_bound(by_name[col], upper)
                df = df.filter(F.col(col) <= F.lit(fv))
        return df

    def read_changes_since(
        self,
        from_version: int | str,
        to_version: int | str | None = None,
    ) -> DataFrame:
        """CDC-out: the delta rows appended by MERGE commits in
        (from_version, to_version] — on a MOR table each merge's delta is
        exactly its batch's per-key LWW winners INCLUDING tombstones,
        i.e. the change feed a downstream consumer tails (bookkeeping
        columns ``_lsn``/``_deleted`` stay visible). Compaction rewrites
        are maintenance, not changes, and are excluded; deltas that a
        later compaction folded away are still served (compaction never
        deletes the underlying files — no vacuum here).

        Either bound may be a TAG NAME (str) instead of a version — the
        'changes since the audited release' idiom. The tag pins the
        BOUND snapshot past retention GC, but the walk still needs the
        intermediate manifests: size retention (keep_last /
        older_than_ts) to cover the consumer's catch-up lag, and a
        consumer that does fall behind the horizon re-seeds via
        replicate.export_snapshot."""
        if isinstance(from_version, str):
            from_version = self.tag_version(from_version)
        if isinstance(to_version, str):
            to_version = self.tag_version(to_version)
        to_version = to_version if to_version is not None else self.current_version()
        seen = {
            d
            for ds in self.manifest(from_version)["buckets"].values()
            for d in ds
        }
        new_dirs: list[str] = []
        for v in range(from_version + 1, to_version + 1):
            for ds in self.manifest(v)["buckets"].values():
                for d in ds:
                    if d in seen:
                        continue
                    seen.add(d)
                    if os.path.basename(os.path.dirname(d)).startswith(
                        "commit-"
                    ):
                        new_dirs.append(d)
        return self._read_files(sorted(new_dirs), version=to_version)

    def net_changes(
        self,
        from_version: int | str,
        to_version: int | str | None = None,
        with_before: bool = False,
    ) -> DataFrame:
        """NET CDC view (Delta CDF's "net changes" / Flink changelog
        compaction analog): ONE row per key whose state differs between
        the two snapshots, classified against the FROM state —

        - ``I``: absent at ``from_version``, live at ``to_version``
          (final payload attached),
        - ``U``: live at both with different payload (final payload),
        - ``D``: live at ``from_version``, tombstoned at ``to_version``
          (payload columns null — the tombstone's residual payload is an
          implementation detail, not part of the contract).

        Keys touched in the window but net-unchanged — inserted then
        deleted, or rewritten back to an identical payload — are
        SUPPRESSED; replaying the output onto a replica seeded at
        ``from_version`` yields exactly the ``to_version`` state with
        one write per key. Either bound may be a tag name, as in
        :meth:`read_changes_since`.

        Scale shape: the change feed contributes O(changes in window);
        the FROM-state side is one LWW-resolved snapshot read joined on
        the key columns — a hash-shuffle join, O(table + changes), with
        no broadcast/collect assumptions. Output column ``net_op``
        avoids colliding with a source stream's ``op``.

        ``with_before=True`` additionally emits each payload column's
        FROM-state value as ``before_<col>`` (null on ``I`` rows) — the
        Debezium before-image envelope, free here because the
        classification join already carries the old values. Consumers
        use it for optimistic-concurrency checks and for reversing a
        feed without a second snapshot read.
        """
        if isinstance(from_version, str):
            from_version = self.tag_version(from_version)
        if isinstance(to_version, str):
            to_version = self.tag_version(to_version)
        to_version = (
            to_version if to_version is not None else self.current_version()
        )
        m = self.manifest(to_version)
        keys = m["key_cols"]
        schema = schema_from_manifest(m["schema"])
        payload = [f.name for f in schema.fields if f.name not in keys]
        ch = self.read_changes_since(from_version, to_version)
        # FROM state under the TO schema (field identity, not names): a
        # rename between the bounds must compare a cell against its own
        # field's old value, so the from-version FILES are projected with
        # the to-version read schema — columns added in the window read
        # null (and diff as changes), columns dropped in the window stop
        # existing. This is the same old-files-under-new-schema path
        # every other reader uses.
        fm = self.manifest(from_version)
        from_dirs = [d for ds in fm["buckets"].values() for d in ds]
        base_phys = self._read_files(from_dirs, version=to_version)
        if m.get("write_mode", "cow") == "mor":
            base_phys = self._fold(base_phys, m)
        if m.get("merge_engine", "lww") != "lww":
            # under the partial/agg engines a changed key's TO state
            # depends on contributions from BEFORE the window (untouched
            # columns / earlier sum contributions), so the final state is
            # the fold of {FROM state ∪ window changes} — sound because
            # the fold is associative and FROM rows ARE fold rows —
            # restricted to keys the window touched
            ch_keys = ch.select(*keys).distinct()
            final = self._fold(base_phys.unionByName(ch), m).join(
                ch_keys, on=keys, how="left_semi"
            )
        else:
            # whole-row LWW: a changed key's winner always lies inside
            # the window, so the feed alone determines the TO state
            final = self._fold(ch, m)
        base = base_phys.filter(~F.col(DELETED_COL)).select(
            *keys, *[F.col(c).alias(f"_old_{c}") for c in payload],
            F.lit(True).alias("_had"),
        )
        j = final.join(base, on=keys, how="left").withColumn(
            "_had", F.coalesce(F.col("_had"), F.lit(False))
        )
        same = F.lit(True)
        for c in payload:
            same = same & F.col(c).eqNullSafe(F.col(f"_old_{c}"))
        net_op = (
            F.when(F.col(DELETED_COL), F.lit("D"))
            .when(~F.col("_had"), F.lit("I"))
            .otherwise(F.lit("U"))
        )
        return (
            j.filter(
                ~(F.col(DELETED_COL) & ~F.col("_had"))  # born+died in window
                & ~(~F.col(DELETED_COL) & F.col("_had") & same)  # net no-op
            )
            .select(
                *keys,
                net_op.alias("net_op"),
                *[
                    F.when(~F.col(DELETED_COL), F.col(c)).alias(c)
                    for c in payload
                ],
                *(
                    [
                        F.when(F.col("_had"), F.col(f"_old_{c}")).alias(
                            f"before_{c}"
                        )
                        for c in payload
                    ]
                    if with_before
                    else []
                ),
                F.col(LSN_COL),
            )
        )

    def snapshot_props(self) -> dict:
        return self.manifest()["properties"]

    # ------------------------------------------------------ metadata tables
    # Iceberg's `table.files` / `table.snapshots` metadata-table analogs:
    # the manifest graph surfaced AS DataFrames so operators can query
    # table health (file counts, delta-chain length, row bounds, commit
    # history) with the same API they query data. Driver-side O(dirs)/
    # O(versions) — metadata only, never a data scan.

    def inspect_files(self, version: int | None = None) -> DataFrame:
        """One row per live data directory of the snapshot: bucket, dir,
        manifest row count and key/lsn bounds (null where footer stats
        were unusable — pruning metadata is an optimization, never a
        correctness dependency)."""
        m = self.manifest(version)
        stats = m.get("file_stats", {})
        rows = []
        for b, ds in sorted(m["buckets"].items(), key=lambda kv: int(kv[0])):
            for d in ds:
                s = stats.get(d) or {}
                rows.append((
                    int(b),
                    d,
                    s.get("rows"),
                    None if s.get("key_min") is None else str(s["key_min"]),
                    None if s.get("key_max") is None else str(s["key_max"]),
                    s.get("lsn_min"),
                    s.get("lsn_max"),
                ))
        return self.spark.createDataFrame(
            rows,
            "bucket int, dir string, rows long, key_min string, "
            "key_max string, lsn_min long, lsn_max long",
        )

    def inspect_snapshots(self) -> DataFrame:
        """One row per retained snapshot: the commit history with its
        write-observed stats — Iceberg's `table.snapshots` analog."""
        rows = []
        for m in self.history():
            st = m.get("stats", {}) or {}
            rows.append((
                int(m["version"]),
                m["snapshot_id"],
                m.get("parent_snapshot_id"),
                float(m.get("committed_at", 0.0)),
                m.get("write_mode", "cow"),
                int(m["n_buckets"]),
                sum(len(ds) for ds in m["buckets"].values()),
                st.get("live_rows"),
                st.get("tombstones"),
                st.get("stats_scope"),
            ))
        return self.spark.createDataFrame(
            rows,
            "version int, snapshot_id string, parent_snapshot_id string, "
            "committed_at double, write_mode string, n_buckets int, "
            "n_dirs long, live_rows long, tombstones long, "
            "stats_scope string",
        )

    def history(self) -> list[dict]:
        versions = sorted(
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
        )
        return [self.manifest(v) for v in versions]

    # --------------------------------------------------------- file stats

    @staticmethod
    def _encode_stat_bound(value):
        """JSON-serializable, order-preserving encoding of a footer
        min/max value: numerics and strings pass through, timestamps
        become epoch MICROS, dates become ordinal days. None = this
        value cannot be encoded (readers then keep the file)."""
        import datetime

        if isinstance(value, bool):
            return None
        if isinstance(value, (int, float, str)):
            return value
        if isinstance(value, datetime.datetime):
            import pandas as pd

            try:
                return int(pd.Timestamp(value).value // 1000)
            except Exception:
                return None
        if isinstance(value, datetime.date):
            return value.toordinal()
        return None

    @staticmethod
    def _collect_dir_stats(
        bucket_dir: str, key0: str, stats_pcols: tuple[str, ...] = ()
    ) -> dict | None:
        """Iceberg-manifest-style per-file column bounds for a freshly
        written bucket dir: min/max of the primary key and ``_lsn`` plus
        the row count, read from the Parquet FOOTERS (driver-side, no
        Spark job — O(part files) metadata fetches per commit). Returns
        None when any footer lacks usable min/max (readers then simply
        keep the dir — pruning is an optimization, never a correctness
        dependency).

        For each declared stats column (:meth:`set_stats_columns`,
        passed here under its PHYSICAL name) a per-FILE ``"files"`` map
        records ``[min, max]`` bounds (``"empty"`` = the column is
        all-null in that file, so no value can fall in any range; a
        missing entry = unknown, readers keep the file — the
        initial-default read path can materialize values for files that
        physically lack a column, so absence must never prune)."""
        import pyarrow.parquet as pq

        key_min = key_max = lsn_min = lsn_max = None
        rows = 0
        files: dict[str, dict] = {}
        try:
            names = [
                n for n in os.listdir(bucket_dir) if n.endswith(".parquet")
            ]
            if not names:
                return None
            for name in names:
                md = pq.read_metadata(os.path.join(bucket_dir, name))
                schema_names = [
                    md.schema.column(i).name for i in range(md.num_columns)
                ]
                ki = schema_names.index(key0)
                li = schema_names.index(LSN_COL)
                rows += md.num_rows
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    ks = row_group.column(ki).statistics
                    ls = row_group.column(li).statistics
                    if (
                        ks is None or not ks.has_min_max
                        or ls is None or not ls.has_min_max
                    ):
                        return None
                    if not isinstance(ks.min, (str, int, float)):
                        return None  # keep manifests JSON-serializable
                    if any(
                        isinstance(v, float) and math.isnan(v)
                        for v in (ks.min, ks.max)
                    ):
                        # NaN key bounds (double key column with NaN
                        # values): same poison as the secondary-column
                        # bounds below — no stats beats wrong pruning
                        return None
                    key_min = ks.min if key_min is None else min(key_min, ks.min)
                    key_max = ks.max if key_max is None else max(key_max, ks.max)
                    lsn_min = ls.min if lsn_min is None else min(lsn_min, ls.min)
                    lsn_max = ls.max if lsn_max is None else max(lsn_max, ls.max)
                if stats_pcols:
                    files[name] = MiniLakeTable._file_col_bounds(
                        md, schema_names, stats_pcols
                    )
        except Exception:
            return None
        if key_min is None:
            return None
        out = {
            "key_min": key_min, "key_max": key_max,
            "lsn_min": int(lsn_min), "lsn_max": int(lsn_max),
            "rows": int(rows),
        }
        if stats_pcols:
            out["files"] = files
        return out

    @staticmethod
    def _file_col_bounds(
        md, schema_names: list[str], stats_pcols: tuple[str, ...]
    ) -> dict:
        """One file's ``{pcol: [min, max] | "empty"}`` bounds map. A
        column the footer lacks, or whose statistics are unusable for
        ANY row group, is simply absent (= unknown, never pruned).

        Additionally records ``"__file_meta__": {"nulls": {pcol: n},
        "tomb": bool}`` — per-column null counts and a has-tombstones
        flag — so :meth:`expire_rows` can prove whole-file DROPS from
        the manifest alone instead of re-opening every live footer
        serially on the driver (bounds prove keeps, but a drop also
        needs no-nulls + no-tombstones). Readers that only look up
        queried pcols (plan_box_scan) ignore the extra key; entries are
        omitted when unknown, which degrades to the footer walk."""
        enc = MiniLakeTable._encode_stat_bound
        out: dict = {}
        meta_nulls: dict = {}
        for pcol in stats_pcols:
            if pcol not in schema_names:
                continue
            ci = schema_names.index(pcol)
            mn = mx = None
            usable = True
            n_vals = 0
            null_total: int | None = 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None:
                    usable = False
                    break
                if null_total is not None and st.null_count is not None:
                    null_total += st.null_count
                else:
                    null_total = None  # unknown anywhere → unknown overall
                n_vals += (st.num_values or 0) if st.num_values is not None else 0
                if not st.has_min_max:
                    # no bounds in this row group: fine ONLY if it holds
                    # no values at all (all-null) — otherwise unknown
                    if st.num_values:
                        usable = False
                        break
                    continue
                emn, emx = enc(st.min), enc(st.max)
                if emn is None or emx is None:
                    usable = False
                    break
                if any(
                    isinstance(v, float) and math.isnan(v)
                    for v in (emn, emx)
                ):
                    # parquet-mr computes double bounds with Java's total
                    # order, where NaN sorts above everything — a chunk
                    # holding any NaN reports max=NaN (sometimes min=NaN
                    # too). NaN poisons every pruning comparison (both
                    # `mn <= hi` and `mx >= lo` go False, so the file
                    # would WRONGLY prune even though its finite values
                    # match). Bounds containing NaN are unusable: leave
                    # the column absent = unknown = never pruned.
                    usable = False
                    break
                mn = emn if mn is None else min(mn, emn)
                mx = emx if mx is None else max(mx, emx)
            if not usable:
                continue
            if mn is None:
                out[pcol] = "empty" if n_vals == 0 else None
                if out[pcol] is None:
                    del out[pcol]
            else:
                out[pcol] = [mn, mx]
            if pcol in out and null_total is not None:
                meta_nulls[pcol] = int(null_total)
        tomb: bool | None = None
        if DELETED_COL in schema_names:
            di = schema_names.index(DELETED_COL)
            tomb = False
            for rg in range(md.num_row_groups):
                ds = md.row_group(rg).column(di).statistics
                if ds is None or not ds.has_min_max:
                    tomb = None  # unknown
                    break
                if ds.max:
                    tomb = True
                    break
        meta: dict = {}
        if meta_nulls:
            meta["nulls"] = meta_nulls
        if tomb is not None:
            meta["tomb"] = tomb
        if meta and "__file_meta__" not in out:
            out["__file_meta__"] = meta
        return out

    def _stats_for_manifest(
        self, base: dict, new_dirs: list[str], new_buckets: dict, key0: str
    ) -> dict:
        """file_stats for a new snapshot: fresh bounds for just-written
        dirs + carried-over bounds for surviving dirs; entries for
        dropped dirs are trimmed so the manifest never grows beyond the
        live file set."""
        stats = dict(base.get("file_stats", {}))
        # footers store the PHYSICAL column name
        to_phys = {
            f.name: physical_name(f)
            for f in schema_from_manifest(base["schema"]).fields
        }
        pkey0 = to_phys.get(key0, key0)
        stats_pcols = tuple(
            to_phys[c]
            for c in base.get("properties", {}).get(STATS_COLS_PROP, [])
            if c in to_phys
        )
        for d in new_dirs:
            s = self._collect_dir_stats(d, pkey0, stats_pcols)
            if s is not None:
                stats[d] = s
        if stats_pcols and new_dirs:
            # Loud degradation (not silent): a declared stats column whose
            # freshly-written footers carry NO usable bounds means every
            # stats-dependent surface (read_range pruning, expire_rows
            # drops) silently degrades to scan-everything — the classic
            # cause is a session writing INT96 timestamps (Spark's
            # default outputTimestampType), which have no footer min/max.
            import warnings

            for pc in stats_pcols:
                covered = any(
                    pc in fb
                    for d in new_dirs
                    if d in stats
                    for fb in stats[d].get("files", {}).values()
                )
                if not covered:
                    warnings.warn(
                        f"declared stats column {pc!r}: freshly-written "
                        f"parquet footers carry no usable min/max bounds; "
                        f"manifest pruning and metadata expiry will scan "
                        f"everything (INT96 timestamps? set spark.sql."
                        f"parquet.outputTimestampType=TIMESTAMP_MICROS)",
                        stacklevel=_caller_stacklevel(),
                    )
        live = {d for ds in new_buckets.values() for d in ds}
        return {d: s for d, s in stats.items() if d in live}

    def _rewrite_writer(self, physical: DataFrame, base: dict):
        """Writer for a maintenance rewrite (compaction, rescale, row
        expiry) of a physical-schema frame: bucket-partitioned, with a
        parquet bloom filter on the key — equality pushdown skips row
        groups the min/max bounds can't exclude — and on every declared
        stats column, so an equality predicate on a secondary column
        skips row groups INSIDE the files the manifest bounds kept
        (manifest prunes files, bloom prunes row groups)."""
        to_phys = {
            f.name: physical_name(f)
            for f in schema_from_manifest(base["schema"]).fields
        }
        pkey0 = to_phys[base["key_cols"][0]]
        writer = physical.write.partitionBy(BUCKET_COL).option(
            f"parquet.bloom.filter.enabled#{pkey0}", "true"
        )
        for c in base["properties"].get(STATS_COLS_PROP, []):
            if c in to_phys and to_phys[c] != pkey0:
                writer = writer.option(
                    f"parquet.bloom.filter.enabled#{to_phys[c]}", "true"
                )
        return writer

    # -------------------------------------------------------------- merge

    @staticmethod
    def _relocate_dead_letters(out_dir: str, dead_sink: str) -> None:
        """Move the fused write's dead-letter pseudo-bucket out of the
        commit directory into the dead-letter sink. File-by-file move so
        a crash/retry that re-delivers the batch appends rather than
        clobbers (task part-file names are unique per attempt) —
        dead-letter delivery is at-least-once, like the table itself is
        exactly-once."""
        neg = os.path.join(out_dir, f"{BUCKET_COL}={DEAD_BUCKET}")
        if not os.path.isdir(neg):
            return
        os.makedirs(dead_sink, exist_ok=True)
        for name in os.listdir(neg):
            shutil.move(
                os.path.join(neg, name), os.path.join(dead_sink, name)
            )
        shutil.rmtree(neg, ignore_errors=True)

    def _data_snapshot(
        self,
        base: dict,
        new_buckets: dict,
        new_dirs: list[str],
        stream_id: str,
        batch_id: int,
        stats: dict,
        stats_scope: str,
    ) -> dict:
        """The fields a data commit on ``base`` changes: the new bucket
        map and file stats, the stream's fence advanced to ``batch_id``,
        max-lsn raised, and the row counts this commit's write observed
        (no commit recounts the table; merges stay cheap)."""
        return {
            "buckets": new_buckets,
            "file_stats": self._stats_for_manifest(
                base, new_dirs, new_buckets, base["key_cols"][0]
            ),
            "properties": {
                **base["properties"],
                FENCES_PROP: {
                    **base["properties"].get(FENCES_PROP, {}),
                    stream_id: batch_id,
                },
                MAX_LSN_PROP: max(
                    base["properties"].get(MAX_LSN_PROP, -1),
                    int(stats["max_lsn"]),
                ),
            },
            "stats": {
                "live_rows": int(stats["live"]),
                "tombstones": int(stats["dead"]),
                "stats_scope": stats_scope,
            },
        }

    def merge(
        self,
        source: DataFrame,
        batch_id: int,
        stream_id: str = "default",
        lsn_col: str = "lsn",
        op_col: str = "op",
        assert_unique_keys: bool = False,
        pre_commit: "object | None" = None,
        valid_col: str | None = None,
        dead_sink: str | None = None,
        stage_to: str | None = None,
        to_branch: str | None = None,
    ) -> MergeResult:
        """Apply a (LWW-pre-reduced) change batch as a key-partitioned
        MERGE: tombstone DELETE / UPDATE / INSERT in one atomic snapshot.

        ``source`` columns: key cols + payload cols (⊆ table schema) +
        ``lsn`` + ``op``. **Must contain at most one row per key** — use
        :func:`operators.lww.lww_reduce` first (MERGE-source uniqueness,
        as real Iceberg enforces).

        Equivalent Iceberg SQL (runs verbatim on the real backend)::

            MERGE INTO t USING s
            ON  t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
            WHEN MATCHED AND s.op = 'D' AND s.lsn > t._lsn THEN DELETE
            WHEN MATCHED AND s.lsn > t._lsn THEN UPDATE SET *
            WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *

        (with tombstones retained as soft-delete rows so out-of-order
        stale updates lose; see module docstring).

        MOR batches commit through :meth:`_publish_delta`, the one
        MOR commit WAP publish and branch publish also use: it reads
        the base at commit time, re-checks the fence (a batch applied
        meanwhile returns ``skipped``/``fenced`` and its commit dir is
        removed), raises :class:`CommitConflict` if a rescale changed
        the bucket layout, and retries other CAS conflicts on the
        racer's base. A batch with no data rows (all dead-lettered)
        commits fence-only, in both write modes. COW merges CAS once
        against the base their write read and raise on conflict.

        ``pre_commit`` (callable, optional — **MOR mode only**) enables
        pipelined ingest: the expensive write job runs immediately, then
        the hook blocks until it is this batch's turn to commit; the
        commit then applies the manifest delta on top of whatever
        predecessors committed meanwhile. Sound for MOR because delta
        files are independent of the base snapshot; COW reads current
        state up front and must stay serial (rejected). If the hook
        raises, the written commit dir is removed.

        ``valid_col`` + ``dead_sink`` (**MOR only, together**) enable
        dead-letter fusion: ``source`` contains BOTH valid and dead rows
        with ``valid_col`` (boolean) distinguishing them. Valid rows go
        through the normal clustered LWW reduce; dead rows ride the SAME
        delta-write job in pseudo-bucket ``-1`` (original op preserved
        in ``_src_op``), and that directory is relocated to
        ``dead_sink`` after the commit-time fence check passes and
        before the manifest registers buckets (a batch found fenced
        relocates nothing) — one Spark job per batch, no second
        O(batch) source scan. Dead rows join
        the one clustered aggregate under a synthetic per-row grouping
        key, so the plan keeps exactly one scan and one exchange.
        Dead-letter delivery is at-least-once across crash/retry, same
        as the previous separate-job write.

        ``stage_to`` (**MOR only**) enables write-audit-publish (the
        Iceberg WAP pattern: snapshots staged under ``wap.id``, then
        cherry-picked): the expensive write job runs now, but instead of
        committing, the batch's manifest delta is parked in a staged
        descriptor under that id. Readers see nothing until
        :meth:`publish_staged` — a metadata-only CAS that re-checks the
        fence, so audit time costs zero extra data jobs and a staged
        batch another writer applied meanwhile publishes as a fenced
        no-op. Audit the pending state with :meth:`read_staged`; discard
        with :meth:`abort_staged`. Incompatible with ``pre_commit``
        (staging IS the commit decoupling). Sound for MOR because delta
        files are base-independent — the same invariant the conflict
        retry relies on; COW reads state at write time and is rejected.

        ``to_branch`` (**MOR only**) writes the batch to a named branch
        ref (Iceberg branches: ``WAP branch`` / write-to-branch +
        ``fast_forward``): the delta-write job runs against the branch's
        base snapshot and the result is appended as the branch's next
        commit — ``main`` readers see nothing, ``read(branch=...)`` sees
        base + every branch commit, and fencing is branch-local (base
        fences ∪ branch commits), so exactly-once holds within the
        branch. Publish with :meth:`fast_forward` (main unmoved since
        divergence) or :meth:`cherry_pick_branch` (rebase onto an
        advanced main, per-commit fence re-check); discard with
        :meth:`delete_branch`. The multi-commit generalization of
        ``stage_to`` — incompatible with ``stage_to``/``pre_commit``/
        ``valid_col``.
        """
        t0 = time.time()
        if to_branch is not None:
            if stage_to is not None or pre_commit is not None or valid_col is not None:
                raise ValueError(
                    "to_branch is incompatible with stage_to/pre_commit/"
                    "valid_col"
                )
            bdesc = self._load_branch(to_branch)
            # the branch diverged at base_version: write against THAT
            # snapshot (schema/layout/fences as of the divergence), not
            # whatever main moved to meanwhile
            base = self.manifest(bdesc["base_version"])
            if base.get("write_mode", "cow") != "mor":
                raise ValueError("to_branch requires merge-on-read mode")
        else:
            base = self.manifest()  # fence + CAS base: the SAME snapshot
        if pre_commit is not None and base.get("write_mode", "cow") != "mor":
            raise ValueError("pre_commit pipelining requires merge-on-read mode")
        if stage_to is not None:
            if base.get("write_mode", "cow") != "mor":
                raise ValueError("stage_to (WAP) requires merge-on-read mode")
            if pre_commit is not None:
                raise ValueError("stage_to is incompatible with pre_commit")
        if valid_col is not None:
            if base.get("write_mode", "cow") != "mor":
                raise ValueError(
                    "dead-letter fusion requires merge-on-read mode"
                )
            if dead_sink is None:
                raise ValueError("valid_col requires dead_sink")
            if base.get("merge_engine", "lww") != "lww":
                # dead rows ride the fold under a synthetic per-row key;
                # the partial/agg folds' per-column aggregation would
                # mangle a dead row's forensic payload. Use the
                # separate-write DLQ path (pipeline falls back
                # automatically when supports_dead_letter_fusion is
                # False).
                raise ValueError(
                    "dead-letter fusion requires the lww merge engine"
                )
        version = base["version"]
        if to_branch is not None:
            # branch-local fencing: base fences + every branch commit
            highwater = self.branch_fences(to_branch).get(stream_id, -1)
        else:
            highwater = base["properties"].get(FENCES_PROP, {}).get(
                stream_id, -1
            )
        if batch_id <= highwater:
            return MergeResult(
                skipped=True, reason="fenced",
                version=version, snapshot_id=base["snapshot_id"],
                branch=to_branch,
            )

        key_cols = base["key_cols"]
        n_buckets = base["n_buckets"]
        table_schema = schema_from_manifest(base["schema"])
        payload_cols = [f.name for f in table_schema.fields if f.name not in key_cols]

        missing = [
            f.name
            for f in table_schema.fields
            if f.name not in source.columns and f.name not in key_cols
        ]
        src = source
        fields_by_name = dict(zip(table_schema.names, table_schema.fields))
        for c in missing:  # columns the batch predates (schema evolution)
            # writer-omitted column: the write-default if declared
            # (Iceberg v3), else a typed null. An explicit null in the
            # source is untouched either way — only ABSENCE defaults.
            src = src.withColumn(
                c,
                F.lit(write_default(fields_by_name[c])).cast(
                    fields_by_name[c].dataType
                ),
            )

        if assert_unique_keys:
            dup_src = (
                src.filter(F.col(valid_col)) if valid_col is not None else src
            )
            dup = (
                dup_src.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1).count()
            )
            if dup:
                raise ValueError("merge source has multiple rows per key")

        # Schema enforcement at the sink boundary (the reference's
        # declared-final-schema cast, transform.py:139-201): whatever
        # types the source arrived with, files are written in the table
        # schema's types — otherwise a batch with (say) bigint turn_idx
        # would poison the physical layout for every future reader.
        types_by_name = {f.name: f.dataType for f in table_schema.fields}
        fuse_extras = []
        deleted_expr = F.col(op_col) == "D"
        if valid_col is not None:
            # dead rows may carry a null/junk op: DELETED must still be a
            # non-null boolean, and the original op string is preserved
            # for forensics (null on valid rows — dictionary-encoded, so
            # the delta-file overhead is negligible)
            vcol = F.coalesce(F.col(valid_col).cast("boolean"), F.lit(False))
            deleted_expr = F.coalesce(deleted_expr, F.lit(False))
            raw_cols = [c for c in src.columns if c != valid_col]
            fuse_extras = [
                vcol.alias(VALID_COL),
                F.when(~vcol, F.col(op_col).cast("string")).alias(SRC_OP_COL),
                F.when(
                    ~vcol, F.to_json(F.struct(*[F.col(c) for c in raw_cols]))
                ).alias(RAW_COL),
            ]
        batch_phys = src.select(
            *[F.col(k).cast(types_by_name[k]).alias(k) for k in key_cols],
            *[F.col(c).cast(types_by_name[c]).alias(c) for c in payload_cols],
            F.col(lsn_col).cast("long").alias(LSN_COL),
            deleted_expr.alias(DELETED_COL),
            *fuse_extras,
        )

        cons = base["properties"].get(CONSTRAINTS_PROP, {})
        if cons:
            # CHECK constraints judge the CAST values (post sink-boundary
            # cast, like Delta); tombstones are exempt — deletes carry
            # null payloads by design. ANSI CHECK semantics: a NULL
            # verdict PASSES (write an explicit IS NOT NULL to reject
            # nulls), only a definite FALSE violates.
            ok_of = {
                n: F.col(DELETED_COL)
                | F.coalesce(F.expr(c["expr"]).cast("boolean"), F.lit(True))
                for n, c in cons.items()
            }
            dl_names = [
                n for n, c in cons.items() if c["mode"] == "dead_letter"
            ]
            fail_names = [n for n, c in cons.items() if c["mode"] == "fail"]
            if valid_col is None:
                # no dead-letter sink on this merge: routing is
                # impossible, and silently dropping rows is worse than
                # failing — dead_letter constraints harden to fail
                fail_names, dl_names = fail_names + dl_names, []

            def _and_all(exprs):
                out = exprs[0]
                for e in exprs[1:]:
                    out = out & e
                return out

            if fail_names:
                # one limit(1) probe per batch (assert_unique_keys
                # pattern): which constraints failed, named in the error
                bad = (
                    batch_phys.filter(~_and_all([ok_of[n] for n in fail_names]))
                    .select(*[ok_of[n].alias(n) for n in fail_names])
                    .limit(1)
                    .collect()
                )
                if bad:
                    failed = sorted(n for n in fail_names if not bad[0][n])
                    raise ConstraintViolation(
                        f"batch {batch_id} violates CHECK constraint(s) "
                        f"{failed} "
                        f"({', '.join(repr(cons[n]['expr']) for n in failed)})"
                        " — no file was written; fix the source or use "
                        "mode='dead_letter' to divert violations"
                    )
            if dl_names:
                # violations divert to the DLQ inside the SAME fused
                # delta-write job: flip VALID, tag _src_op with the
                # failed constraint names, and carry the table-typed row
                # as the forensic payload (source-invalid rows keep
                # their original-row JSON from the select above)
                ok = _and_all([ok_of[n] for n in dl_names])
                tag = F.concat_ws(
                    ",",
                    *[
                        F.when(~ok_of[n], F.lit(f"constraint:{n}"))
                        for n in dl_names
                    ],
                )
                cast_raw = F.to_json(
                    F.struct(
                        *[F.col(c) for c in key_cols + payload_cols],
                        F.col(LSN_COL),
                    )
                )
                keep = [
                    c
                    for c in batch_phys.columns
                    if c not in (VALID_COL, SRC_OP_COL, RAW_COL)
                ]
                batch_phys = batch_phys.select(
                    *keep,
                    (F.col(VALID_COL) & ok).alias(VALID_COL),
                    F.coalesce(
                        F.col(SRC_OP_COL), F.when(~ok, tag)
                    ).alias(SRC_OP_COL),
                    F.coalesce(
                        F.col(RAW_COL), F.when(~ok, cast_raw)
                    ).alias(RAW_COL),
                )

        engine = base.get("merge_engine", "lww")
        if engine == "partial":
            # lift events to the fold layout (singleton folds): per-column
            # write-LSNs + delete-reset — the SAME layout files carry, so
            # the pre-reduce below, read resolution and compaction are one
            # associative fold (operators/partial_update.py)
            batch_phys = partial_event_frame(batch_phys, payload_cols)
        elif engine == "agg":
            # aggregation states cannot retract: reject deletes loudly
            # before any file is written (one short limit(1) probe per
            # batch — same pattern and cost as assert_unique_keys)
            if batch_phys.filter(F.col(DELETED_COL)).limit(1).count():
                raise ValueError(
                    "agg merge engine cannot retract: op='D' events are "
                    "unsupported (model deletes as compensating events)"
                )
            spec = base.get("agg_spec", {})
            phys_by_logical = {
                f.name: physical_name(f) for f in table_schema.fields
            }
            batch_phys = agg_event_frame(
                batch_phys,
                last_cols=[
                    c
                    for c in payload_cols
                    if spec.get(phys_by_logical[c], "last") == "last"
                ],
            )

        bexpr = self._bucket_expr(key_cols[0], n_buckets)
        if valid_col is not None:
            # null keys hash to a null bucket; route every dead row to
            # the relocatable pseudo-bucket instead
            bexpr = F.when(F.col(VALID_COL), bexpr).otherwise(
                F.lit(DEAD_BUCKET)
            )
        batch_phys = batch_phys.withColumn(BUCKET_COL, bexpr)
        write_mode = base.get("write_mode", "cow")
        fold_keys = [BUCKET_COL] + list(key_cols) + [SPREAD_COL]

        if write_mode == "mor":
            # Merge-on-read: append the batch as per-bucket DELTA files —
            # the current state is never read, never rewritten. Per-batch
            # cost is O(batch), not O(table): the only design that
            # survives 10^10 events with uniform key spread (copy-on-
            # write rewrites every touched bucket, and a uniform batch
            # touches all of them → O(table) per batch, O(n²) total).
            # LWW resolution moves to read()/compact(). No persist and no
            # bucket-discovery job either — touched buckets are read off
            # the filesystem after the ONE write job.
            #
            # Bucket-clustered pre-reduce, free of extra shuffles: the
            # delta write needs the bucket repartition anyway, and the
            # LWW group-by reuses that clustering (HashPartitioning on
            # the spread token satisfies ClusteredDistribution(token,
            # bucket, keys…) — plan-asserted to a single Exchange in
            # tests). Update-heavy batches shrink the delta by
            # |batch|/|keys| before hitting disk, which cuts write AND
            # compaction I/O (measured ~30% off replay+compact wall at
            # sf0.1). _place_buckets packs the buckets (and the dead-
            # letter pseudo-bucket) onto one partition per task slot.
            clustered = _place_buckets(
                batch_phys, list(range(n_buckets)),
                dead_token=valid_col is not None,
            )
            if valid_col is not None:
                # Single-branch fusion: dead rows ride the SAME clustered
                # LWW aggregate under a synthetic per-row grouping key
                # (their keys are null, so without it they would collapse
                # into one group and be lost). The plan keeps exactly one
                # scan + one exchange — a filter/union split design loses
                # that, because Catalyst pushes the validity filters below
                # the repartition and the two exchanges stop being
                # reusable. Identical-lsn duplicate deliveries of a dead
                # row collapse to one DLQ entry (a bonus, not a loss).
                # lsn-less fallback hashes the FULL pre-cast row (_raw
                # embeds keys, payload and op) so only byte-identical
                # dead rows collapse — hashing just keys+op collapsed
                # distinct malformed events that shared null keys,
                # losing forensics
                dlq_key = F.when(
                    F.col(VALID_COL), F.lit(None).cast("long")
                ).otherwise(
                    F.coalesce(F.col(LSN_COL), F.xxhash64(F.col(RAW_COL)))
                )
                clustered = clustered.withColumn(DLQ_KEY_COL, dlq_key).drop(
                    VALID_COL
                )
                fold_keys.insert(-1, DLQ_KEY_COL)
            elif engine == "agg":
                # duplicate delivery dedup (exact (key, lsn) collapse)
                # BEFORE the fold — a sum would double-count what the
                # other engines absorb idempotently. Same bucket
                # clustering, map-side combined: no extra exchange.
                clustered = _dedup_exact(
                    clustered,
                    [BUCKET_COL] + list(key_cols) + [LSN_COL, SPREAD_COL],
                )
            merged = self._fold(
                clustered, base, keys=fold_keys, lineage=True
            ).drop(SPREAD_COL)
            if valid_col is not None:
                merged = merged.drop(DLQ_KEY_COL)
                if base["properties"].get(ROW_LINEAGE_PROP):
                    # lineage rode the same fused fold; null the dead
                    # rows' junk summaries so the DLQ files stay
                    # forensics-only
                    merged = merged.withColumn(
                        BIRTH_COL,
                        F.when(
                            F.col(SRC_OP_COL).isNull(), F.col(BIRTH_COL)
                        ),
                    ).withColumn(
                        TOMB_COL,
                        F.when(
                            F.col(SRC_OP_COL).isNull(), F.col(TOMB_COL)
                        ),
                    )
        else:
            # Copy-on-write needs the touched-bucket set BEFORE reading
            # current state (partition pruning). The batch side is
            # persisted so the upstream (scan → clean UDF) doesn't run
            # twice — once for the distinct, once for the merge write.
            batch_phys = batch_phys.persist()
            touched = sorted(
                r[0] for r in batch_phys.select(BUCKET_COL).distinct().collect()
            )
            if not touched:
                batch_phys.unpersist()
                # an empty (e.g. fully dead-lettered) batch changes no
                # data but MUST advance the fence — otherwise every
                # resume re-processes it forever (exactly-once includes
                # no-op batches). Commit a fence-only snapshot.
                return self._publish_delta(
                    stream_id, batch_id, {},
                    {"live": 0, "dead": 0, "max_lsn": -1}, n_buckets, t0,
                )
            current_dirs = [
                d for b in touched for d in base["buckets"].get(str(b), [])
            ]
            current = self._read_files(current_dirs, version=version).withColumn(
                BUCKET_COL, bexpr
            )

            # Fold across {current state ∪ batch} per key, reduced inside
            # the rewrite's bucket clustering — same single-Exchange
            # shape as the MOR branch. Tombstones survive. COW files are
            # already key-unique fold rows, so both engines' folds apply
            # directly (the partial fold is associative; stored rows are
            # just previous fold results).
            if engine == "agg":
                # dedup the BATCH side only — stored state rows must
                # never collapse with events (see MOR branch note)
                batch_phys = _dedup_exact(
                    batch_phys, [BUCKET_COL] + list(key_cols) + [LSN_COL]
                )
            unioned = _place_buckets(
                current.unionByName(batch_phys), touched
            )
            merged = self._fold(unioned, base, keys=fold_keys).drop(
                SPREAD_COL
            )

        # In fused mode dead-letter rows flow through the same frame —
        # the metrics must count only APPLIED rows (dead rows carry a
        # non-null _src_op) so table stats and max-lsn stay clean.
        applied = (
            F.col(SRC_OP_COL).isNull() if valid_col is not None else F.lit(True)
        )
        obs = Observation()
        merged = merged.observe(
            obs,
            F.count(F.when(applied & ~F.col(DELETED_COL), 1)).alias("live"),
            F.count(F.when(applied & F.col(DELETED_COL), 1)).alias("dead"),
            F.max(F.when(applied, F.col(LSN_COL))).alias("max_lsn"),
        )
        commit_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.data_dir, f"commit-{version + 1:06d}-{commit_id}")
        # both branches arrive bucket-clustered from the reduce — the
        # write never reshuffles
        writer = self._to_physical(merged, table_schema).write.partitionBy(
            BUCKET_COL
        )
        if write_mode == "mor":
            # deltas are short-lived (folded away by the next compaction):
            # skip dictionary encoding on them — measured A/B below the
            # bench noise on wall but strictly less encode CPU; COW files
            # ARE the long-lived state and keep the dictionary
            writer = writer.option("parquet.enable.dictionary", "false")
        writer.mode("overwrite").parquet(out_dir)
        if write_mode == "mor":
            # discover the written data buckets from the output; the
            # dead-letter pseudo-bucket is relocated, never registered
            touched = sorted(
                b
                for name in os.listdir(out_dir)
                if name.startswith(f"{BUCKET_COL}=")
                for b in [int(name.split("=", 1)[1])]
                if b != DEAD_BUCKET
            )
        else:
            batch_phys.unpersist()

        if pre_commit is not None:
            # Pipelined replay: block until it is this batch's commit
            # turn — a fence-only commit too, or an empty batch k could
            # advance the fence past an in-flight k-1 whose data is
            # uncommitted (a crash in that window would make resume skip
            # k-1). The commit below re-reads the base.
            try:
                pre_commit()
            except Exception:
                # predecessor batch failed → this commit must not land;
                # drop the already-written commit dir instead of leaking
                # an unreferenced directory until retention GC.
                shutil.rmtree(out_dir, ignore_errors=True)
                raise

        # Stats via Observation: collected during the write itself — no
        # extra read-back job over the new files. A write with no data
        # bucket (all dead-lettered / empty upstream) never touches it:
        # AQE may have eliminated the CollectMetrics node along with the
        # empty relation, and obs.get would block forever. If AQE ever
        # eliminates it anyway, recount from the files just written.
        if not touched:
            stats_row = {"live": 0, "dead": 0, "max_lsn": None}
        else:
            try:
                stats_row = obs.get
            except Exception:
                stats_row = (
                    self._read_files(
                        [
                            os.path.join(out_dir, f"{BUCKET_COL}={b}")
                            for b in touched
                        ],
                        version=version,
                    )
                    .agg(
                        F.count(F.when(~F.col(DELETED_COL), 1)).alias("live"),
                        F.count(F.when(F.col(DELETED_COL), 1)).alias("dead"),
                        F.max(LSN_COL).alias("max_lsn"),
                    )
                    .collect()[0]
                )
        stats = {
            "live": int(stats_row["live"]),
            "dead": int(stats_row["dead"]),
            "max_lsn": (
                -1 if stats_row["max_lsn"] is None
                else int(stats_row["max_lsn"])
            ),
        }

        if write_mode == "cow":
            # One CAS, no retry: COW read current state against THIS base
            # — a retry on a new base could resurrect rows another writer
            # just changed. The caller must redo the merge.
            new_buckets = dict(base["buckets"])
            new_dirs: list[str] = []
            for b in touched:  # replace each touched bucket's files
                d = os.path.join(out_dir, f"{BUCKET_COL}={b}")
                new_buckets[str(b)] = [d] if os.path.exists(d) else []
                new_dirs += new_buckets[str(b)]
            m2 = self._commit_snapshot(
                base,
                self._pinned(version, self._data_snapshot(
                    base, new_buckets, new_dirs, stream_id, batch_id, stats,
                    "touched_buckets_only" if len(touched) < n_buckets
                    else "full",
                )),
                out_dir=out_dir,
            )
            return MergeResult(
                skipped=False,
                version=m2["version"],
                snapshot_id=m2["snapshot_id"],
                rows_upserted=stats["live"],
                rows_deleted=stats["dead"],
                buckets_touched=len(touched),
                wall_ms=(time.time() - t0) * 1000,
            )

        # MOR: the batch's delta, independent of any base snapshot — the
        # commit can land on whatever snapshot is current when it runs.
        delta_dirs = {
            str(b): os.path.join(out_dir, f"{BUCKET_COL}={b}") for b in touched
        }
        if stage_to is not None or to_branch is not None:
            # WAP parks the delta in a staged descriptor; a branch write
            # appends it as the branch's next commit (an empty delta
            # still advances the staged / branch-local fence). Dead
            # letters leave now: there is no later commit of this job.
            if dead_sink is not None:
                self._relocate_dead_letters(out_dir, dead_sink)
            if not delta_dirs:
                shutil.rmtree(out_dir, ignore_errors=True)
            if stage_to is not None:
                return self._write_staged(
                    stage_to, stream_id, batch_id, version, n_buckets,
                    delta_dirs, stats, t0,
                )
            return self._append_branch_commit(
                to_branch, stream_id, batch_id, delta_dirs, stats, t0
            )
        return self._publish_delta(
            stream_id, batch_id, delta_dirs, stats, n_buckets, t0,
            out_dir=out_dir, dead_sink=dead_sink,
        )

    # ----------------------------------------------------------------- tags
    # Iceberg tag refs: a named, immutable pointer to a snapshot that
    # retention must keep (expire_snapshots honors tags the way Iceberg's
    # expire_snapshots honors refs). One O_EXCL file per tag under
    # metadata/tags/ — create is atomic, tags never move (drop+recreate
    # to retarget, exactly Iceberg's replace-tag discipline).

    def _tag_path(self, name: str) -> str:
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid tag name {name!r}")
        return os.path.join(self.meta_dir, "tags", f"{name}.json")

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Tag a committed snapshot (default: current). The tagged
        version survives :meth:`expire_snapshots` until the tag is
        dropped — the audit/compliance pin ("the table as shipped to
        eval X") that plain ``keep_last`` retention can't express.

        A tag pins the snapshot READ (``read(tag=...)`` / time travel to
        that version); it does not pin the incremental CDC chain —
        ``read_changes_since(tagged_version)`` still fails with the
        clear horizon error once GC drops intermediate manifests,
        matching Iceberg (refs keep snapshots, not every snapshot
        between them)."""
        if version is None:
            version = self.current_version()
        if not os.path.exists(self._manifest_path(version)):
            raise ValueError(
                f"cannot tag version {version}: no such committed snapshot "
                "(never existed, or already expired)"
            )
        path = self._tag_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists") from None
        with os.fdopen(fd, "w") as f:
            json.dump(
                {"name": name, "version": version, "created_at": time.time()},
                f,
            )
            f.flush()
            os.fsync(f.fileno())
        return version

    def tags(self) -> dict[str, int]:
        """All tag refs: {name: version}."""
        out = {}
        for p in glob.glob(os.path.join(self.meta_dir, "tags", "*.json")):
            with open(p) as f:
                d = json.load(f)
            out[d["name"]] = d["version"]
        return out

    def tag_version(self, name: str) -> int:
        try:
            with open(self._tag_path(name)) as f:
                return json.load(f)["version"]
        except FileNotFoundError:
            raise KeyError(f"no tag {name!r}") from None

    def delete_tag(self, name: str) -> None:
        """Drop a tag ref. The snapshot it pinned becomes eligible for
        retention GC like any other."""
        try:
            os.remove(self._tag_path(name))
        except FileNotFoundError:
            raise KeyError(f"no tag {name!r}") from None

    # ------------------------------------------------- write-audit-publish
    # Iceberg WAP analog: spark.wap.id stages a snapshot that is not the
    # table's current until cherry_pick_snapshot publishes it. Here the
    # staged state is a descriptor under metadata/staged/<wap_id>.json
    # holding the batch's manifest DELTA (MOR delta dirs + fence advance
    # + stats); publish is a metadata-only CAS, audit is a read over
    # current ∪ staged dirs. Retention GC treats staged dirs as live.

    def _staged_path(self, wap_id: str) -> str:
        if "/" in wap_id or wap_id.startswith("."):
            raise ValueError(f"invalid wap_id {wap_id!r}")
        return os.path.join(self.meta_dir, "staged", f"{wap_id}.json")

    def _load_staged(self, wap_id: str) -> dict:
        try:
            with open(self._staged_path(wap_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise KeyError(f"no staged commit {wap_id!r}") from None

    def list_staged(self) -> list[str]:
        return sorted(
            os.path.basename(p)[:-5]
            for p in glob.glob(os.path.join(self.meta_dir, "staged", "*.json"))
        )

    def _write_staged(
        self,
        wap_id: str,
        stream_id: str,
        batch_id: int,
        base_version: int,
        n_buckets: int,
        delta_dirs: dict[str, str],
        stats: dict,
        t0: float,
    ) -> MergeResult:
        path = self._staged_path(wap_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        desc = {
            "wap_id": wap_id,
            "stream_id": stream_id,
            "batch_id": batch_id,
            "base_version_at_stage": base_version,
            "n_buckets": n_buckets,
            "delta_dirs": delta_dirs,
            "stats": stats,
            "staged_at": time.time(),
        }
        try:
            fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        except FileExistsError:
            # duplicate wap_id: drop the just-written (unreferenced)
            # delta dirs rather than leaking them until orphan GC
            for top in {os.path.dirname(d) for d in delta_dirs.values()}:
                shutil.rmtree(top, ignore_errors=True)
            raise ValueError(f"staged commit {wap_id!r} already exists")
        with os.fdopen(fd, "w") as f:
            json.dump(desc, f)
            f.flush()
            os.fsync(f.fileno())
        return MergeResult(
            skipped=False,
            version=base_version,
            snapshot_id=self.manifest(base_version)["snapshot_id"],
            rows_upserted=stats["live"],
            rows_deleted=stats["dead"],
            buckets_touched=len(delta_dirs),
            wall_ms=(time.time() - t0) * 1000,
            staged=True,
            wap_id=wap_id,
        )

    def read_staged(self, wap_id: str) -> DataFrame:
        """The audit view: current table state with the staged batch
        applied (LWW-resolved), bookkeeping hidden — what :meth:`read`
        would return after :meth:`publish_staged`. Metadata-only setup;
        no data is rewritten. If another writer applied the same batch
        meanwhile, the duplicate rows are byte-identical and the LWW
        fold collapses them — the audit stays correct."""
        desc = self._load_staged(wap_id)
        m = self.manifest()
        if m["n_buckets"] != desc["n_buckets"]:
            raise CommitConflict(
                "bucket layout changed while staged "
                f"({desc['n_buckets']} -> {m['n_buckets']}); abort and "
                "restage under the new layout"
            )
        dirs = [d for ds in m["buckets"].values() for d in ds] + sorted(
            desc["delta_dirs"].values()
        )
        return self.read(_dirs=dirs)

    def _publish_delta(
        self,
        stream_id: str,
        batch_id: int,
        delta_dirs: dict[str, str],
        stats: dict,
        expect_n_buckets: int,
        t0: float,
        out_dir: str | None = None,
        dead_sink: str | None = None,
    ) -> MergeResult:
        """The one MOR commit, behind :meth:`merge`,
        :meth:`publish_staged` and the branch
        :meth:`fast_forward`/:meth:`cherry_pick_branch`: CAS-append
        already-written delta dirs and advance the stream's fence.
        Re-checks the fence against the commit-time base — a batch
        another writer applied meanwhile returns a fenced no-op WITH its
        delta dirs removed. Conflicts with concurrent commits retry on
        the fresh base (delta dirs are base-independent); a bucket-count
        mismatch raises :class:`CommitConflict` (deltas are bucketed
        under the layout they were written against). An empty delta is
        a fence-only commit, which no layout change can invalidate.

        ``out_dir`` — a merge's commit dir: removed if the commit raises
        (the caller redoes the merge; the fence keeps the redo
        exactly-once) or registers no data. With ``dead_sink`` its
        dead-letter pseudo-bucket is relocated to the sink once the
        fence and layout checks pass, before the manifest registers
        buckets (a fenced batch relocates nothing; the winning writer
        delivered its own dead letters)."""
        fenced_on: list[dict] = []

        def build(base: dict) -> dict | None:
            nonlocal dead_sink
            fences = base["properties"].get(FENCES_PROP, {})
            if batch_id <= fences.get(stream_id, -1):
                fenced_on.append(base)
                return None
            if delta_dirs and base["n_buckets"] != expect_n_buckets:
                raise CommitConflict(
                    "bucket layout changed since the delta was written "
                    f"({expect_n_buckets} -> {base['n_buckets']})"
                )
            if dead_sink is not None:
                self._relocate_dead_letters(out_dir, dead_sink)
                dead_sink = None  # once, whatever the CAS retries
            if not delta_dirs:  # empty batch: fence advance only
                return {"properties": {
                    **base["properties"],
                    FENCES_PROP: {**fences, stream_id: batch_id},
                }}
            new_buckets = dict(base["buckets"])
            new_dirs: list[str] = []
            for b, d in sorted(delta_dirs.items(), key=lambda kv: int(kv[0])):
                new_dirs.append(d)
                new_buckets[b] = new_buckets.get(b, []) + [d]
            return self._data_snapshot(
                base, new_buckets, new_dirs, stream_id, batch_id, stats,
                "mor_delta",
            )

        m2 = self._commit_snapshot(self.manifest(), build, out_dir=out_dir)
        if m2 is None or not delta_dirs:
            # fenced, or fence-only: no written dir is registered
            tops = {os.path.dirname(d) for d in delta_dirs.values()}
            for top in tops | ({out_dir} if out_dir else set()):
                shutil.rmtree(top, ignore_errors=True)
        if m2 is None:
            return MergeResult(
                skipped=True, reason="fenced",
                version=fenced_on[-1]["version"],
                snapshot_id=fenced_on[-1]["snapshot_id"],
            )
        return MergeResult(
            skipped=False,
            version=m2["version"],
            snapshot_id=m2["snapshot_id"],
            rows_upserted=int(stats["live"]),
            rows_deleted=int(stats["dead"]),
            buckets_touched=len(delta_dirs),
            wall_ms=(time.time() - t0) * 1000,
        )

    def publish_staged(self, wap_id: str) -> MergeResult:
        """Commit a staged (WAP) batch: metadata-only CAS appending the
        staged MOR delta dirs and advancing the stream's fence. Re-checks
        the fence against the publish-time base — a batch another writer
        applied while staged publishes as a fenced no-op and its staged
        files are dropped. Conflicts with concurrent commits retry on the
        fresh base (delta dirs are base-independent); a bucket-count
        rescale while staged raises :class:`CommitConflict` — abort and
        restage under the new layout."""
        t0 = time.time()
        desc = self._load_staged(wap_id)
        if self.manifest()["n_buckets"] != desc["n_buckets"]:
            raise CommitConflict(
                "bucket layout changed while staged "
                f"({desc['n_buckets']} -> {self.manifest()['n_buckets']});"
                " abort and restage under the new layout"
            )
        res = self._publish_delta(
            desc["stream_id"], desc["batch_id"], desc["delta_dirs"],
            desc["stats"], desc["n_buckets"], t0,
        )
        os.remove(self._staged_path(wap_id))
        res.wap_id = wap_id
        return res

    def abort_staged(self, wap_id: str) -> None:
        """Discard a staged (WAP) batch: delete its delta dirs and the
        descriptor. The table never saw the data."""
        desc = self._load_staged(wap_id)
        for top in {os.path.dirname(d) for d in desc["delta_dirs"].values()}:
            shutil.rmtree(top, ignore_errors=True)
        os.remove(self._staged_path(wap_id))

    # ------------------------------------------------------------ branches
    # Iceberg branch refs: a named, mutable lineage diverging from a base
    # snapshot — the multi-commit generalization of WAP staging. Writes go
    # to the branch (merge(to_branch=...)) with branch-local fencing; main
    # readers see nothing; read(branch=...) sees base + every branch
    # commit; the branch lands on main via fast_forward (Iceberg
    # fast_forward: main unmoved since divergence) or cherry_pick_branch
    # (rebase onto an advanced main — sound because MOR deltas are
    # base-independent). Layout: metadata/branches/<name>/branch.json
    # (O_EXCL create) + commit-%06d.json slots (O_EXCL append — two racing
    # branch writers can never both claim a slot). Retention GC treats
    # branch delta dirs as live and pins each branch's base snapshot.

    def _branch_dir(self, name: str) -> str:
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid branch name {name!r}")
        return os.path.join(self.meta_dir, "branches", name)

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Create branch ``name`` diverging at ``version`` (default:
        current). Returns the base version the branch pins."""
        base = self.manifest(version)
        if base.get("write_mode", "cow") != "mor":
            raise ValueError("branches require merge-on-read mode")
        d = self._branch_dir(name)
        os.makedirs(d, exist_ok=True)
        desc = {
            "name": name,
            "base_version": base["version"],
            "n_buckets": base["n_buckets"],
            "created_at": time.time(),
        }
        try:
            fd = os.open(
                os.path.join(d, "branch.json"),
                os.O_WRONLY | os.O_CREAT | os.O_EXCL,
            )
        except FileExistsError:
            raise ValueError(f"branch {name!r} already exists") from None
        with os.fdopen(fd, "w") as f:
            json.dump(desc, f)
            f.flush()
            os.fsync(f.fileno())
        return base["version"]

    def branches(self) -> list[str]:
        """All branch refs by name."""
        root = os.path.join(self.meta_dir, "branches")
        if not os.path.isdir(root):
            return []
        return sorted(
            n
            for n in os.listdir(root)
            if os.path.exists(os.path.join(root, n, "branch.json"))
        )

    def _load_branch(self, name: str) -> dict:
        try:
            with open(os.path.join(self._branch_dir(name), "branch.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            raise KeyError(f"no branch {name!r}") from None

    def _branch_commits(self, name: str) -> list[dict]:
        out = []
        for p in sorted(
            glob.glob(os.path.join(self._branch_dir(name), "commit-*.json"))
        ):
            with open(p) as f:
                out.append({**json.load(f), "_path": p})
        return out

    def _append_branch_commit(
        self,
        name: str,
        stream_id: str,
        batch_id: int,
        delta_dirs: dict[str, str],
        stats: dict,
        t0: float,
    ) -> MergeResult:
        """O_EXCL-claim the branch's next commit slot. On a slot race the
        branch fence is re-checked (the racer may have applied this very
        batch — then this write's delta dirs drop and the result is a
        fenced no-op) and the append retries on the next slot."""
        bdesc = self._load_branch(name)
        base_snap = self.manifest(bdesc["base_version"])["snapshot_id"]
        while True:
            commits = self._branch_commits(name)
            hw = max(
                (
                    c["batch_id"]
                    for c in commits
                    if c["stream_id"] == stream_id
                ),
                default=-1,
            )
            if batch_id <= hw:
                for top in {os.path.dirname(d) for d in delta_dirs.values()}:
                    shutil.rmtree(top, ignore_errors=True)
                return MergeResult(
                    skipped=True, reason="fenced",
                    version=bdesc["base_version"], snapshot_id=base_snap,
                    branch=name,
                )
            path = os.path.join(
                self._branch_dir(name), f"commit-{len(commits):06d}.json"
            )
            desc = {
                "stream_id": stream_id,
                "batch_id": batch_id,
                "delta_dirs": delta_dirs,
                "stats": stats,
                "committed_at": time.time(),
            }
            try:
                fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
            except FileExistsError:
                continue  # racer claimed the slot; re-list and re-check
            with os.fdopen(fd, "w") as f:
                json.dump(desc, f)
                f.flush()
                os.fsync(f.fileno())
            return MergeResult(
                skipped=False,
                version=bdesc["base_version"],
                snapshot_id=base_snap,
                rows_upserted=stats["live"],
                rows_deleted=stats["dead"],
                buckets_touched=len(delta_dirs),
                wall_ms=(time.time() - t0) * 1000,
                branch=name,
            )

    def branch_fences(self, name: str) -> dict:
        """Branch-local fence map: the base snapshot's per-stream
        high-waters folded with every commit already on the branch —
        what a branch-targeted ingest driver consults for its fence
        fast-path (merge(to_branch=...) re-checks internally)."""
        bdesc = self._load_branch(name)
        fences = dict(
            self.manifest(bdesc["base_version"])["properties"].get(
                FENCES_PROP, {}
            )
        )
        for c in self._branch_commits(name):
            s = c["stream_id"]
            fences[s] = max(fences.get(s, -1), c["batch_id"])
        return fences

    def fast_forward(self, name: str) -> list[MergeResult]:
        """Publish branch ``name`` onto main, Iceberg ``fast_forward``
        style: requires main to still BE the branch's base (no divergence
        — otherwise raises :class:`CommitConflict` pointing at
        :meth:`cherry_pick_branch`). Each branch commit lands as its own
        snapshot, preserving per-commit history, fences and incremental
        CDC-out granularity. A crash mid-publish is recoverable: already-
        published commit slots are gone, the remainder re-lands via
        cherry_pick_branch (the per-commit fence makes re-publish
        exactly-once)."""
        bdesc = self._load_branch(name)
        if self.manifest()["version"] != bdesc["base_version"]:
            raise CommitConflict(
                f"main advanced past branch {name!r} base "
                f"v{bdesc['base_version']}; use cherry_pick_branch to "
                "rebase"
            )
        return self._publish_branch(name)

    def cherry_pick_branch(self, name: str) -> list[MergeResult]:
        """Publish branch ``name`` onto an ADVANCED main (the Iceberg
        cherry-pick analog): sound because MOR delta dirs are
        base-independent and the read/compact LWW fold resolves by lsn.
        The per-commit fence re-check drops any (stream, batch) main
        already applied — their delta dirs are removed, not double-
        counted."""
        return self._publish_branch(name)

    def _publish_branch(self, name: str) -> list[MergeResult]:
        bdesc = self._load_branch(name)
        results: list[MergeResult] = []
        for c in self._branch_commits(name):
            res = self._publish_delta(
                c["stream_id"], c["batch_id"], c["delta_dirs"],
                c["stats"], bdesc["n_buckets"], time.time(),
            )
            res.branch = name
            results.append(res)
            os.remove(c["_path"])
        shutil.rmtree(self._branch_dir(name), ignore_errors=True)
        return results

    def delete_branch(self, name: str) -> None:
        """Discard a branch: delete its commits' delta dirs and the
        descriptor. Main never saw the data."""
        self._load_branch(name)  # KeyError if absent
        for c in self._branch_commits(name):
            for top in {os.path.dirname(d) for d in c["delta_dirs"].values()}:
                shutil.rmtree(top, ignore_errors=True)
        shutil.rmtree(self._branch_dir(name), ignore_errors=True)

    # ----------------------------------------------------------- rollback

    def rollback(self, version: int) -> int:
        """Roll the table back to an earlier snapshot (Iceberg
        ``rollback_to_snapshot`` analog). Like Iceberg, rollback COMMITS
        A NEW snapshot whose content (schema, buckets, properties —
        including the exactly-once fences) is the old one's: history
        stays linear and append-only, the CAS versioning scheme is
        undisturbed, and the rolled-back-over snapshots remain
        time-travelable until retention GC. Fences roll back with the
        snapshot, so re-applying the rolled-back batches is the expected
        (and idempotent-safe) follow-up."""
        current = self.current_version()
        if not os.path.exists(self._manifest_path(version)):
            raise ValueError(f"no snapshot v{version} to roll back to")
        if version >= current:
            raise ValueError(
                f"rollback target v{version} is not older than v{current}"
            )
        old = self.manifest(version)
        restored = {k: old[k] for k in _CARRIED if k in old}
        # a target written before file stats existed must not inherit
        # the current snapshot's (they describe other dirs)
        restored.setdefault("file_stats", {})
        restored["rolled_back_from"] = {
            "version": version,
            "snapshot_id": old["snapshot_id"],
        }
        return self._commit_snapshot(
            self.manifest(current), self._pinned(current, restored)
        )["version"]

    # ---------------------------------------------------------- retention

    def expire_snapshots(
        self,
        keep_last: int = 10,
        orphan_min_age_s: float = 86400.0,
        older_than_ts: float | None = None,
    ) -> dict:
        """Retention GC (Iceberg ``expire_snapshots`` analog): drop
        manifests older than the newest ``keep_last`` versions and delete
        every data directory no retained manifest references. Time
        travel and incremental reads older than the horizon become
        unavailable — the standard retention trade. Never touches the
        current version. ``older_than_ts`` adds Iceberg's
        ``older_than``/``retain_last`` combination: snapshots committed
        at or after the timestamp survive regardless of ``keep_last``.

        Unreferenced dirs split two ways (Iceberg's ``expire_snapshots``
        vs ``remove_orphan_files(older_than=...)`` distinction):

        - referenced by a DROPPED manifest but no kept one — committed
          data past the horizon; removed unconditionally;
        - referenced by NO manifest at all — either a crashed writer's
          leftovers or a CONCURRENT writer's not-yet-committed dir
          (writers stage data files BEFORE their CAS commit). Deleting
          the latter would corrupt an in-flight commit, so true orphans
          are only removed once every file under them is older than
          ``orphan_min_age_s`` (default 24h; pass 0 in tests / after a
          known crash).

        Returns counts of removed manifests/dirs and skipped young
        orphans."""
        keep_last = max(int(keep_last), 1)
        versions = sorted(
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
        )
        # tag refs pin their snapshots past the keep_last horizon,
        # exactly Iceberg expire_snapshots honoring named refs; branch
        # refs pin their BASE snapshot the same way (a branch read folds
        # base + branch commits — expiring the base would orphan it)
        tagged = set(self.tags().values())
        branch_bases = {
            self._load_branch(b)["base_version"] for b in self.branches()
        }
        # Iceberg's expire_snapshots(older_than=ts, retain_last=N):
        # a snapshot survives if it is recent enough OR inside the
        # retain-last window OR pinned by a ref
        recent = (
            {
                v
                for v in versions
                if self.manifest(v).get("committed_at", 0) >= older_than_ts
            }
            if older_than_ts is not None
            else set()
        )
        kept = sorted(
            set(versions[-keep_last:])
            | recent
            | ((tagged | branch_bases) & set(versions))
        )
        dropped = [v for v in versions if v not in kept]

        def _tops(vs: list[int]) -> set[str]:
            # data dirs are <data>/<commit-or-compact dir>/<bucket=..>; a
            # top-level dir survives iff ANY of its bucket dirs is
            # referenced
            return {
                os.path.dirname(d)
                for v in vs
                for ds in self.manifest(v)["buckets"].values()
                for d in ds
            }

        live_tops = _tops(kept)
        # staged (write-audit-publish) delta dirs are referenced by no
        # manifest yet — they are pending commits, not orphans, whatever
        # their age
        for wid in self.list_staged():
            live_tops |= {
                os.path.dirname(d)
                for d in self._load_staged(wid)["delta_dirs"].values()
            }
        # branch commits' delta dirs are pending publishes, same as staged
        for bname in self.branches():
            for c in self._branch_commits(bname):
                live_tops |= {
                    os.path.dirname(d) for d in c["delta_dirs"].values()
                }
        expired_tops = _tops(dropped) - live_tops
        now = time.time()
        removed_dirs: list[str] = []
        skipped_orphans: list[str] = []
        for name in os.listdir(self.data_dir):
            top = os.path.join(self.data_dir, name)
            if top in live_tops:
                continue
            if top not in expired_tops:
                newest = max(
                    (
                        os.path.getmtime(os.path.join(r, f))
                        for r, _, fs in os.walk(top)
                        for f in fs
                    ),
                    default=os.path.getmtime(top),
                )
                if now - newest < orphan_min_age_s:
                    skipped_orphans.append(top)
                    continue
            shutil.rmtree(top, ignore_errors=True)
            removed_dirs.append(top)
        for v in dropped:
            os.remove(self._manifest_path(v))
        return {
            "manifests_removed": len(dropped),
            "dirs_removed": len(removed_dirs),
            "young_orphans_skipped": len(skipped_orphans),
        }

    def expire_rows(
        self,
        col: str,
        older_than,
        compact_first: bool = True,
    ) -> dict:
        """Row retention expiry as METADATA-level file drops (the
        Iceberg delete-by-partition-predicate / BigQuery
        partition-expiration analog): remove every LIVE row whose
        ``col`` is strictly below ``older_than``. At 10^10 rows this is
        the operation that makes a retention policy affordable — a
        30-day TTL sweep must cost O(files), never an O(table) rewrite:

        - files whose footer proves every row expires (``max(col) <
          cutoff``, no nulls, no tombstones) are DROPPED — no task ever
          opens them;
        - files whose footer proves no row expires are HARDLINKED into
          the new snapshot's dirs — zero bytes copied, and retained
          older snapshots keep reading the shared inodes (time travel
          across the expiry stays intact until ``expire_snapshots``);
        - only BOUNDARY files (cutoff inside their bounds, or stats
          unknown) are rewritten, by one Spark job reading exactly
          those files.

        A ``compact(cluster_cols=[col])`` layout makes the boundary set
        O(1) files per bucket; on an un-clustered layout everything is
        boundary and this degrades gracefully into a filtered rewrite.

        Semantics: rows with NULL ``col`` are retained (a range
        predicate never matches null); TOMBSTONES are retained (a
        dropped tombstone would let a stale straggler resurrect its
        key — same straggler contract as ``compact(drop_tombstones=
        True)``). Expired rows do NOT appear in the CDC-out feed —
        retention is per-store policy, not a data change (the
        Delta/Iceberg convention); replicas apply their own policy.

        Requires the LWW engine and a fully RESOLVED snapshot (COW
        always is; MOR = one compaction/rescale/expire output dir per
        bucket — otherwise a dropped file's winner could resurrect a
        loser still sitting in an older delta). With ``compact_first``
        an unresolved MOR table is compacted (tombstone-keeping)
        in-line; otherwise this raises. On a CAS conflict the rewrite
        is abandoned and re-raised — retryable, like rescale."""
        import pyarrow.parquet as pq

        base = self.manifest()
        if base.get("merge_engine", "lww") != "lww":
            raise ValueError("expire_rows requires the lww merge engine")
        schema = schema_from_manifest(base["schema"])
        by_name = {f.name: f for f in schema.fields}
        if col not in by_name:
            raise ValueError(f"no column {col!r} in the table schema")
        field = by_name[col]
        filter_value, enc_cutoff = self._norm_bound(field, older_than)
        pcol = physical_name(field)

        if not snapshot_is_resolved(base):
            if not compact_first:
                raise ValueError(
                    "expire_rows needs a fully resolved snapshot (file "
                    "drops on a delta-holding table could resurrect "
                    "folded-away losers); run compact() first or pass "
                    "compact_first=True"
                )
            # tombstones KEPT: expiry mid-stream must not un-guard keys
            self.compact(drop_tombstones=False)
            base = self.manifest()
            if not snapshot_is_resolved(base):
                # a merge raced the inline compaction (compact's MOR
                # conflict retry legitimately commits with the racer's
                # delta dirs surviving) — running the file-drop plan on
                # an unresolved base could drop a delta file whose rows
                # out-LWW losers still sitting in older files. Abort
                # retryably instead of planning on it.
                raise CommitConflict(
                    "table became unresolved again during "
                    "compact_first (a merge raced the compaction); "
                    "retry expire_rows"
                )
        version = base["version"]
        enc = self._encode_stat_bound

        def _classify(path: str) -> tuple[str, frozenset | None]:
            """('drop'|'keep'|'boundary', footer column set) from the
            parquet footer — driver-side metadata only, no task
            launched. The column set lets the caller protect the
            one-footer-schema-per-dir invariant hardlinks could break."""
            try:
                md = pq.read_metadata(path)
            except Exception:
                return "boundary", None
            names = [
                md.schema.column(i).name for i in range(md.num_columns)
            ]
            colset = frozenset(names)
            if pcol not in names:
                # pre-add file: every ROW reads the column's
                # initial-default (or null) — but the file may still
                # hold TOMBSTONES, which must be retained, so a
                # below-cutoff default can never whole-file drop
                dflt = initial_default(field)
                if dflt is None:
                    return "keep", colset  # all-null → retained
                _, enc_d = self._norm_bound(field, dflt)
                try:
                    return (
                        ("boundary", colset)
                        if enc_d < enc_cutoff
                        else ("keep", colset)
                    )
                except TypeError:
                    return "boundary", colset
            ci = names.index(pcol)
            di = names.index(DELETED_COL) if DELETED_COL in names else None
            droppable = True
            keepable = True
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                st = g.column(ci).statistics
                if st is None:
                    return "boundary", colset
                n_vals = st.num_values
                if not st.has_min_max:
                    if n_vals:  # values exist but no bounds → unknown
                        return "boundary", colset
                    droppable = False  # all-null group: rows retained
                    continue
                emn, emx = enc(st.min), enc(st.max)
                if emn is None or emx is None or any(
                    isinstance(v, float) and math.isnan(v)
                    for v in (emn, emx)
                ):
                    return "boundary", colset
                try:
                    if not (emx < enc_cutoff):
                        droppable = False
                    if not (emn >= enc_cutoff):
                        keepable = False
                except TypeError:
                    return "boundary", colset
                if st.null_count is None or st.null_count > 0:
                    droppable = False  # null rows are retained
                if di is not None:
                    ds = g.column(di).statistics
                    if ds is None or not ds.has_min_max or ds.max:
                        droppable = False  # tombstones are retained
            if droppable:
                return "drop", colset
            if keepable:
                return "keep", colset
            return "boundary", colset

        # the boundary-rewrite job writes the FULL current physical
        # column set; a hardlinked survivor with a different footer set
        # (e.g. written before an add_columns) would land in the same
        # bucket dir and break the one-footer-schema-per-dir invariant
        # the initial-default read path depends on — demote those to
        # boundary (the rewrite normalizes them)
        canonical = frozenset(
            f.name for f in self.physical_read_schema(version).fields
        )
        def _from_manifest(dir_files: dict | None, name: str) -> str | None:
            """'keep' / 'drop' when the manifest's per-file stats prove
            it, else None (→ open the footer). Bounds prove keeps
            directly (nulls/tombstones are retained anyway); a drop
            additionally needs the recorded no-nulls + no-tombstones
            metadata. This makes the classification phase O(boundary
            files) footer reads on a clustered layout instead of a
            serial driver walk over EVERY live footer."""
            if not dir_files:
                return None
            fb = dir_files.get(name)
            if fb is None:
                return None
            cb = fb.get(pcol)
            if cb is None:
                return None
            if cb == "empty":
                return "keep"  # all-null: every row retained
            mn, mx = cb
            try:
                if mn >= enc_cutoff:
                    return "keep"
                meta = fb.get("__file_meta__") or {}
                if (
                    mx < enc_cutoff
                    and (meta.get("nulls") or {}).get(pcol) == 0
                    and meta.get("tomb") is False
                ):
                    return "drop"
            except TypeError:
                return None
            return None

        fstats = base.get("file_stats", {})
        dropped: list[str] = []
        linked: list[tuple[str, int]] = []  # (path, bucket)
        boundary: dict[str, list[str]] = {}  # dir -> file paths
        touched: set[int] = set()
        for b_str, dirs in base["buckets"].items():
            b = int(b_str)
            plan: list[tuple[str, str, frozenset | None]] = []
            for d in dirs:
                dir_files = fstats.get(d, {}).get("files")
                for name in sorted(os.listdir(d)):
                    if not name.endswith(".parquet"):
                        continue
                    path = os.path.join(d, name)
                    mcls = _from_manifest(dir_files, name)
                    if mcls is not None:
                        # one memoized footer per DIR for the column-set
                        # (a dir is written by one job → one schema)
                        plan.append(
                            (path, mcls, self._dir_physical_cols(d) or None)
                        )
                        continue
                    cls, colset = _classify(path)
                    plan.append((path, cls, colset))
            if all(cls == "keep" for _, cls, _cs in plan):
                continue  # bucket untouched, dirs survive byte-identical
            touched.add(b)
            for path, cls, colset in plan:
                if cls == "keep" and colset != canonical:
                    cls = "boundary"
                if cls == "drop":
                    dropped.append(path)
                elif cls == "keep":
                    linked.append((path, b))
                else:
                    boundary.setdefault(os.path.dirname(path), []).append(
                        path
                    )
        if not touched:
            return {
                "version": version, "files_dropped": 0,
                "files_linked": 0, "files_rewritten": 0,
            }

        out_dir = os.path.join(
            self.data_dir, f"expire-{version + 1:06d}-{uuid.uuid4().hex[:12]}"
        )
        n_rewritten = 0
        if boundary:
            dirs = sorted(boundary)
            df = self._read_files(
                dirs, version=version,
                file_filter={d: boundary[d] for d in dirs},
            )
            kept = df.filter(
                # expired = rows MATCHING col < cutoff; null and NaN
                # match no range predicate, so both are retained (the
                # same convention as read_range)
                F.col(DELETED_COL)
                | F.col(col).isNull()
                | ~(F.col(col) < F.lit(filter_value))
            ).withColumn(
                BUCKET_COL,
                self._bucket_expr(base["key_cols"][0], base["n_buckets"]),
            )
            # no repartition and no sort: each boundary file's rows flow
            # through their own scan tasks, preserving the compaction's
            # clustering inside the rewritten output
            self._rewrite_writer(
                self._to_physical(kept, schema), base
            ).mode("overwrite").parquet(out_dir)
            n_rewritten = sum(len(v) for v in boundary.values())
        for path, b in linked:
            bdir = os.path.join(out_dir, f"{BUCKET_COL}={b}")
            os.makedirs(bdir, exist_ok=True)
            dst = os.path.join(bdir, os.path.basename(path))
            try:
                os.link(path, dst)  # zero-copy share with old snapshots
            except OSError:
                shutil.copy2(path, dst)  # cross-device fallback
        new_buckets = dict(base["buckets"])
        new_dirs: list[str] = []
        for b in sorted(touched):
            bucket_dir = os.path.join(out_dir, f"{BUCKET_COL}={b}")
            if os.path.exists(bucket_dir) and any(
                n.endswith(".parquet") for n in os.listdir(bucket_dir)
            ):
                new_buckets[str(b)] = [bucket_dir]
                new_dirs.append(bucket_dir)
            else:
                new_buckets.pop(str(b), None)  # bucket fully expired
        m2 = self._commit_snapshot(
            base,
            self._pinned(version, {
                "buckets": new_buckets,
                "file_stats": self._stats_for_manifest(
                    base, new_dirs, new_buckets, base["key_cols"][0]
                ),
            }),
            out_dir=out_dir,
        )
        return {
            "version": m2["version"],
            "files_dropped": len(dropped),
            "files_linked": len(linked),
            "files_rewritten": n_rewritten,
        }

    # -------------------------------------------------------------- purge

    def purge_where(
        self,
        predicate: str,
        orphan_min_age_s: float = 86400.0,
        verify: bool = True,
    ) -> dict:
        """Hard-delete every PHYSICAL row matching ``predicate`` from
        every still-readable snapshot — the right-to-be-forgotten
        composition (Delta's ``DELETE`` + ``VACUUM 0``, GDPR art. 17):

        1. refuse while tags, branches or staged commits pin old
           snapshots (a clone's auto source tag counts — the pin list
           names what to release first; a purge that silently left the
           data reachable through a ref would be a compliance lie);
        2. ``delete_where(predicate)`` tombstones the matching LIVE
           keys (fenced, CDC-visible, so replicas and MVs converge);
        3. rewrite exactly the buckets holding any matching physical
           row — including rows already superseded under LWW and
           tombstone-retained payloads, which step 2 alone never
           touches — via partial ``compact(buckets=...,
           drop_tombstones=True)``; untouched buckets keep their files
           byte-identical (O(matching buckets), not O(table));
        4. ``expire_snapshots(keep_last=1, ...)`` drops every pre-purge
           manifest and deletes the now-unreferenced dirs, so time
           travel cannot resurrect the data;
        5. (``verify=True``) re-scan the physical rows of every
           remaining readable version and assert zero matches.

        Known out-of-band copies this cannot reach (documented, same as
        any lake engine): dead-letter sinks, CDC-out exports already
        shipped to replicas, and external backups — purge those stores
        separately. A CDC consumer (replica, MV) that tails between
        steps 2 and 4 converges from the tombstones; one whose
        watermark falls behind the purge's expiry horizon gets the
        standard behind-retention error — and because the purge also
        drops the victims' tombstones, a snapshot re-seed ALONE cannot
        delete them on a replica that already has them (no event exists
        to overwrite). The replica procedure is therefore: run the SAME
        ``purge_where`` on the replica, then re-seed from
        ``export_snapshot`` (pinned by
        ``tests/test_replicate.py::
        test_purge_then_replica_purge_and_reseed_converges``).

        Drops tombstones for the matched keys — a purge erases the
        key's existence, so a pre-purge straggler UPDATE below the LSN
        high-water could re-insert; the LSN fence in :meth:`merge`
        still rejects stale batches via the stream fences, same
        exposure as Iceberg after ``rewrite_data_files`` +
        ``expire_snapshots``.

        Returns ``{rows_deleted, buckets_rewritten, versions_expired,
        dirs_deleted, verified}``."""
        pins = {
            "tags": sorted(self.tags()),
            "branches": self.branches(),
            "staged": self.list_staged(),
        }
        pinned = {k: v for k, v in pins.items() if v}
        if pinned:
            raise ValueError(
                "purge_where refused: old snapshots are pinned by "
                f"{pinned} — a purge must leave NO readable copy; "
                "delete the refs (or publish/abort staged commits) "
                "and retry"
            )
        # tombstone live matches first so downstream CDC consumers see
        # ordinary deletes before history disappears
        res = self.delete_where(predicate)
        # buckets holding ANY matching physical row (stale LWW losers
        # and tombstone payloads included) — O(scan) job, O(buckets)
        # driver result, same control-plane class as the point lookups
        m = self.manifest()
        phys = self.read_physical()
        hit = (
            phys.filter(F.expr(predicate))
            .select(
                self._bucket_expr(m["key_cols"][0], m["n_buckets"])
                .alias("_pb")
            )
            .distinct()
        )
        affected = sorted(r["_pb"] for r in hit.collect())
        if affected:
            # drop ONLY the victims' tombstones: a blanket
            # drop_tombstones=True would also erase unrelated deleted
            # keys' tombstones in the shared buckets, after which a
            # behind-retention replica's snapshot re-seed has no event
            # to overwrite their stale live rows with. Victim keys come
            # from the pre-purge snapshot (the live matches delete_where
            # just tombstoned, plus keys whose only matches were
            # already-superseded payloads — their tombstones, if any,
            # also erase).
            victims = (
                self.read_physical(version=m["version"])
                .filter(F.expr(predicate))
                .select(*m["key_cols"])
                .distinct()
            )
            self.compact(
                buckets=affected,
                drop_tombstones=False,
                drop_tombstones_for=victims,
            )
        exp = self.expire_snapshots(
            keep_last=1, orphan_min_age_s=orphan_min_age_s
        )
        verified = None
        if verify:
            versions = sorted(
                int(os.path.basename(p)[1:-5])
                for p in glob.glob(os.path.join(self.meta_dir, "v*.json"))
            )
            leftover = 0
            for v in versions:
                leftover += (
                    self.read_physical(version=v)
                    .filter(F.expr(predicate))
                    .count()
                )
            if leftover:
                raise RuntimeError(
                    f"purge verification failed: {leftover} physical "
                    f"rows still match {predicate!r} across versions "
                    f"{versions}"
                )
            verified = True
        return {
            "rows_deleted": res.rows_deleted,
            "buckets_rewritten": len(affected),
            "versions_expired": exp["manifests_removed"],
            "dirs_deleted": exp["dirs_removed"],
            "verified": verified,
        }

    # -------------------------------------------------------------- clone

    def shallow_clone(
        self, dest_root: str, version: int | None = None
    ) -> "MiniLakeTable":
        """Zero-copy clone (Delta ``SHALLOW CLONE`` analog): a new table
        whose initial snapshot REFERENCES this table's data dirs instead
        of copying them — metadata-only, O(1) whatever the table size.
        The clone is immediately writable and diverges privately: every
        write mode only ever ADDS dirs under the writer's own root
        (MOR appends deltas; COW and compaction register replacement
        dirs and merely drop references to shared ones), and retention
        GC deletes only under its own ``data_dir`` — so neither side's
        writes or GC can touch the other's files.

        Safety against the SOURCE's GC: the cloned snapshot is pinned by
        an auto-created source tag (recorded in the clone's
        ``engine.clone-tag`` property); dropping the clone means
        deleting its root and ``source.delete_tag(tag)``. This is the
        honest version of Delta's shallow-clone caveat — there, a source
        VACUUM silently breaks clones; here the pin is explicit and the
        break requires dropping it.

        Fences, tombstones, file stats and properties ride along, so a
        replay already applied to the source is a fenced no-op on the
        clone (the clone continues the source's exactly-once history
        rather than double-applying it). Use
        ``replicate.export_snapshot`` instead when you need a physical
        copy with an independent lifecycle."""
        if MiniLakeTable.exists(dest_root):
            raise ValueError(f"destination {dest_root!r} already exists")
        m = self.manifest(version)
        if m["properties"].get(CLONE_OF_PROP):
            foreign = [
                d
                for ds in m["buckets"].values()
                for d in ds
                if not d.startswith(self.root + os.sep)
            ]
            if foreign:
                # a second-hop clone would depend on the FIRST clone's
                # pin on the original source: dropping the intermediate
                # clone (delete root + delete_tag) would silently break
                # this one. Refuse until the data is localized — one
                # compact() rewrites every referenced dir under this
                # clone's own root, making it a self-contained source.
                raise ValueError(
                    "cannot shallow-clone a clone that still references "
                    f"{m['properties'][CLONE_OF_PROP]!r} "
                    f"({len(foreign)} shared dirs): run compact() first "
                    "to localize the data, then clone"
                )
        tag = f"clone-{uuid.uuid4().hex[:8]}"
        self.create_tag(tag, m["version"])
        dest = MiniLakeTable(self.spark, dest_root)
        os.makedirs(dest.meta_dir, exist_ok=True)
        os.makedirs(dest.data_dir, exist_ok=True)
        m2 = dict(m)
        m2["properties"] = {
            **m["properties"],
            CLONE_OF_PROP: self.root,
            CLONE_TAG_PROP: tag,
        }
        m2["committed_at"] = time.time()
        dest._write_manifest(m2)
        # TOCTOU guard: a CONCURRENT source expire_snapshots may have
        # read the tag registry BEFORE our pin landed and still deleted
        # the snapshot's manifest or dirs. Verify liveness AFTER the pin
        # is durable; on a lost race, undo everything and surface a
        # retryable conflict (the retry re-reads a fresh manifest whose
        # dirs the now-visible tag protects).
        missing = [
            d
            for ds in m2["buckets"].values()
            for d in ds
            if not os.path.isdir(d)
        ]
        if missing or not os.path.exists(
            self._manifest_path(m["version"])
        ):
            shutil.rmtree(dest_root, ignore_errors=True)
            self.delete_tag(tag)
            raise CommitConflict(
                f"shallow_clone raced retention GC on {self.root!r} "
                f"(version {m['version']} partially expired); retry"
            )
        return dest

    # ------------------------------------------------------------ compact

    def maybe_compact(self, max_files_per_bucket: int = 8) -> int | None:
        """Amortized MOR maintenance: fold ONLY the buckets whose delta
        chain grew past the threshold back to one file each (tombstones
        kept — see compact note). Hot buckets pay their own maintenance;
        cold buckets are never rewritten — at 10^10 events with skewed
        keys this is the difference between O(hot) and O(table) per
        maintenance cycle. Manifest check only when below threshold.
        Returns the new version or None."""
        m = self.manifest()
        hot = [
            int(b)
            for b, dirs in m["buckets"].items()
            if len(dirs) > max_files_per_bucket
        ]
        if not hot:
            return None
        return self.compact(drop_tombstones=False, buckets=hot)

    def compact(
        self,
        drop_tombstones: bool = True,
        buckets: list[int] | None = None,
        target_rows_per_file: int = 8_000_000,
        cluster_cols: list[str] | None = None,
        zorder: bool = False,
        drop_tombstones_for: DataFrame | None = None,
    ) -> int:
        """Rewrite buckets into fresh files (all buckets, or only the
        given subset — partial compaction); optionally hard-delete
        tombstones (safe once no straggler events below max LSN remain).
        Untouched buckets keep their existing files byte-identical —
        readers of the new snapshot see the union.

        Write parallelism is decoupled from bucket count: the output is
        RANGE-partitioned over (bucket, key) into
        max(#buckets, total_rows / target_rows_per_file) tasks, so a
        bucket holding more than ``target_rows_per_file`` rows folds to
        several key-disjoint files instead of one task grinding out one
        giant file — at 100 TB a 100 GB bucket must not serialize
        through a single writer. Range (not hash) splitting keeps each
        file a contiguous key span: the per-file sort, row-group
        min/max pruning and the key bloom filters all survive, and the
        per-bucket manifest stats still cover the whole dir. Row totals
        come from the manifest's file_stats (dirs without stats just
        undercount — fewer splits, never a correctness issue).

        ``cluster_cols`` re-targets the long-lived layout at RANGE scans
        instead of point lookups: the range split and the within-file
        sort run over the given columns (e.g. ``["ts"]``), so each
        output file covers a tight span of them and
        :meth:`read_range` + the declared :meth:`set_stats_columns`
        bounds prune to O(matching files) from the manifest alone
        (Iceberg ``rewrite_data_files`` with a sort strategy). The trade
        is explicit: files are no longer key-sorted, so point lookups
        lose row-group key min/max pruning — the key BLOOM filters
        still cover them.

        ``drop_tombstones_for`` (requires ``drop_tombstones=False``): a
        key-columns DataFrame; ONLY tombstones of those keys are
        hard-deleted, every other key's tombstone survives. The purge
        path uses this so erasing the victims' existence cannot
        collaterally drop an unrelated deleted key's tombstone in the
        same bucket (which would let a behind-retention replica's
        snapshot re-seed keep that key's stale live row). Applied as a
        broadcast-able left-anti join on the tombstone slice only — the
        live-row side of the fold is untouched.

        ``zorder=True`` (with ≥2 ``cluster_cols``) interleaves the bits
        of the columns' 16-bit min/max-normalized ranks and range-splits
        + sorts on that z-value instead (Delta ``OPTIMIZE ZORDER BY`` /
        Iceberg rewrite_data_files z-order strategy analog): each file
        covers a tight HYPER-RECTANGLE of the clustered dimensions, so
        :meth:`read_range` prunes files on EVERY clustered dimension —
        linear multi-column clustering gives non-leading dimensions
        near-full-range file bounds and no pruning. The z-value is pure
        Column bit arithmetic inside whole-stage codegen; the extra cost
        is one min/max agg pass to fix the normalization bounds (the
        range partitioner's sampling pass already scans the frame).
        Nulls rank at the top of each dimension, so all-null rows
        cluster in one corner (a range predicate never matches null —
        those files prune away). Z-order columns may be numeric,
        timestamp, date or string (strings rank by their first 6 bytes
        — see ``_zorder_double``)."""
        base = self.manifest()
        version = base["version"]
        n_buckets = base["n_buckets"]
        key0 = base["key_cols"][0]
        schema = schema_from_manifest(base["schema"])
        if buckets is None:
            target = sorted(int(b) for b in base["buckets"])
            df = self.read_physical()
        else:
            target = sorted(int(b) for b in buckets)
            dirs = [d for b in target for d in base["buckets"].get(str(b), [])]
            df = self._read_files(dirs, version=version)
        # Without a file split the fold runs INSIDE the one
        # bucket-clustered exchange below — folding by bare key first
        # would shuffle the whole folded state twice (once hash(keys) for
        # the reduce, once hash(bucket) for the layout), and the deltas
        # are per-batch key-unique so the first shuffle's map-side
        # partials collapse nothing. Decided after n_out is known.
        fold_clustered = base.get("write_mode", "cow") == "mor"
        df = df.withColumn(BUCKET_COL, self._bucket_expr(key0, n_buckets))
        out_dir = os.path.join(
            self.data_dir, f"compact-{version + 1:06d}-{uuid.uuid4().hex[:12]}"
        )
        # files carry PHYSICAL names (stable across renames) — the sort
        # key and bloom-filter option must name the on-disk column
        to_phys = {f.name: physical_name(f) for f in schema.fields}
        pkey0 = to_phys[key0]
        if cluster_cols:
            missing = [c for c in cluster_cols if c not in to_phys]
            if missing:
                raise ValueError(
                    f"cluster_cols not in the table schema: {missing}"
                )
        split_cols = list(cluster_cols) if cluster_cols else [key0]
        sort_pcols = (
            [to_phys[c] for c in cluster_cols] if cluster_cols else [pkey0]
        )
        stats = base.get("file_stats", {})
        folded_rows = sum(
            stats[d]["rows"]
            for b in target
            for d in base["buckets"].get(str(b), [])
            if d in stats
        )
        n_out = max(
            len(target),
            1,
            -(-folded_rows // max(target_rows_per_file, 1)),  # ceil div
        )
        split = n_out > max(len(target), 1)
        if drop_tombstones and drop_tombstones_for is not None:
            raise ValueError(
                "drop_tombstones_for requires drop_tombstones=False "
                "(it is the targeted form of the drop)"
            )

        def _drop_tombs(frame: DataFrame) -> DataFrame:
            if drop_tombstones:
                return frame.filter(~F.col(DELETED_COL))
            if drop_tombstones_for is not None:
                # keep: live rows, plus tombstones of NON-victim keys.
                # One left join + filter (not filter∪anti-join — a union
                # of two branches would compute the fold subtree twice).
                victims = (
                    drop_tombstones_for.select(*base["key_cols"])
                    .distinct()
                    .withColumn("_victim", F.lit(True))
                )
                return (
                    frame.join(victims, list(base["key_cols"]), "left")
                    .filter(
                        ~F.col(DELETED_COL) | F.col("_victim").isNull()
                    )
                    .drop("_victim")
                )
            return frame

        z_logical = z_physical = None
        if not split:
            # one-shuffle fold-and-layout: pack the buckets onto the task
            # slots (_place_buckets), fold inside that clustering, write —
            # instead of shuffling the whole state once for the key fold
            # and again for the bucket layout. The scan is coalesced to
            # one task per slot first: deltas are many small per-bucket
            # files, and one-file scan tasks cost more to launch than to
            # run.
            df = _place_buckets(df.coalesce(_task_slots(self.spark)), target)
            if fold_clustered:
                df = self._fold(
                    df, base,
                    keys=[BUCKET_COL] + list(base["key_cols"]) + [SPREAD_COL],
                    lineage=True,
                )
            df = df.drop(SPREAD_COL)
        elif fold_clustered:
            df = self._fold(df, base, lineage=True).withColumn(
                BUCKET_COL, self._bucket_expr(key0, n_buckets)
            )
        # NOTE: dropping tombstones is only safe once no straggler event
        # below MAX_LSN can still arrive — a dropped tombstone cannot
        # out-LWW a later stale update. Mid-stream compaction keeps them.
        df = _drop_tombs(df)
        if zorder:
            if not cluster_cols:
                raise ValueError("zorder requires cluster_cols")
            if len(cluster_cols) < 2:
                raise ValueError(
                    "zorder needs at least two cluster_cols — plain "
                    "cluster_cols already sorts one dimension"
                )
            by_name = {f.name: f for f in schema.fields}
            bad = [
                c
                for c in cluster_cols
                if not isinstance(by_name[c].dataType, self._ZORDER_TYPES)
            ]
            if bad:
                raise ValueError(
                    f"zorder cluster_cols must be numeric, timestamp, date "
                    f"or string columns: {bad}"
                )
            # exact normalization bounds: one extra agg job over the
            # folded frame (O(1) driver row). Out-of-range values only
            # clamp, so conservative bounds would also be CORRECT —
            # exact ones keep the rank resolution.
            dtypes = [by_name[c].dataType for c in cluster_cols]
            row = df.agg(
                *(
                    F.min(self._zorder_double(F.col(c), dt)).alias(f"n{i}")
                    for i, (c, dt) in enumerate(zip(cluster_cols, dtypes))
                ),
                *(
                    F.max(self._zorder_double(F.col(c), dt)).alias(f"x{i}")
                    for i, (c, dt) in enumerate(zip(cluster_cols, dtypes))
                ),
            ).first()
            mins = [
                row[f"n{i}"] if row[f"n{i}"] is not None else 0.0
                for i in range(len(cluster_cols))
            ]
            maxs = [
                row[f"x{i}"] if row[f"x{i}"] is not None else 1.0
                for i in range(len(cluster_cols))
            ]
            z_logical = self._zorder_expr(
                [
                    self._zorder_double(F.col(c), dt)
                    for c, dt in zip(cluster_cols, dtypes)
                ],
                mins,
                maxs,
            )
            z_physical = self._zorder_expr(
                [
                    self._zorder_double(F.col(to_phys[c]), dt)
                    for c, dt in zip(cluster_cols, dtypes)
                ],
                mins,
                maxs,
            )
        if split:
            # range partitioning costs one sampling pass over the folded
            # frame to place boundaries — pay it only when a bucket
            # actually outgrew the target file size
            df = df.repartitionByRange(
                n_out,
                F.col(BUCKET_COL),
                *(
                    [z_logical]
                    if z_logical is not None
                    else [F.col(c) for c in split_cols]
                ),
            )
        # Clustered row groups: compaction is the long-lived layout, so
        # pay one local sort here — by key (default: point lookups prune
        # row groups on tight key min/max) or by the caller's
        # cluster_cols / z-value (range scans prune files on tight
        # secondary bounds). Deltas stay unsorted — they are short-lived
        # by design. The bucket leads the sort: a partition holds
        # several buckets, and the writer needs them contiguous — on the
        # plain path the fold's own sort already provides (bucket, key),
        # so this Sort plans away.
        self._rewrite_writer(
            self._to_physical(df, schema).sortWithinPartitions(
                BUCKET_COL,
                *([z_physical] if z_physical is not None else sort_pcols),
            ),
            base,
        ).mode("overwrite").parquet(out_dir)
        # the exact dir-set each folded file REPLACES — a conflicted
        # commit rebuilds on a fresh base by swapping precisely these
        # out and keeping any deltas a racing merge appended since
        folded_set = {
            b: set(base["buckets"].get(str(b), [])) for b in target
        }
        skipped_dirs: list[str] = []

        def build(fresh: dict) -> dict:
            if fresh["version"] != version:
                if fresh.get("write_mode", "cow") != "mor":
                    # COW: a racing merge REPLACED the bucket dirs this
                    # compaction folded — keeping both the stale fold and
                    # the racer's replacement would duplicate rows, and
                    # COW reads have no LWW resolve to hide it. Mirror
                    # merge()'s COW policy: drop the fold and surface the
                    # conflict; the caller re-runs compaction on the
                    # fresh base.
                    raise CommitConflict(
                        f"v{version + 1} was committed by another writer "
                        "during copy-on-write compaction; re-run "
                        "compaction on the fresh snapshot"
                    )
                if fresh["n_buckets"] != n_buckets:
                    # the racer was a RESCALE: this fold's bucket= dirs
                    # were computed under the old modulus and cannot be
                    # registered in the new layout
                    raise CommitConflict(
                        "bucket layout changed during compaction "
                        f"({n_buckets} -> {fresh['n_buckets']}); re-run "
                        "compaction under the new layout"
                    )
            # MOR maintenance racing ingest: racers only APPEND delta
            # dirs and reads LWW-resolve, so rebuilding the manifest on
            # the racer's base (folded files + surviving deltas) stays
            # correct
            new_buckets = dict(fresh["buckets"])
            new_dirs: list[str] = []
            skipped_dirs.clear()
            for b in target:
                bucket_dir = os.path.join(out_dir, f"{BUCKET_COL}={b}")
                base_dirs = new_buckets.get(str(b), [])
                if folded_set[b] - set(base_dirs):
                    # A fold may only REPLACE its exact inputs. Some of
                    # this bucket's inputs are gone from the
                    # conflict-reloaded base — a RACING COMPACTION
                    # already folded them away. Registering our output
                    # next to the racer's would store every key twice
                    # (and the maintained-snapshot fold-skip read would
                    # SERVE the duplicates); keep the racer's result for
                    # this bucket and discard ours — the contents are
                    # equivalent folds of the same inputs.
                    if os.path.exists(bucket_dir):
                        skipped_dirs.append(bucket_dir)
                    continue
                survivors = [
                    d for d in base_dirs if d not in folded_set[b]
                ]
                folded = (
                    [bucket_dir] if os.path.exists(bucket_dir) else []
                )
                if folded:
                    new_dirs.append(bucket_dir)
                if folded or survivors:
                    new_buckets[str(b)] = folded + survivors
                else:
                    new_buckets.pop(str(b), None)  # bucket emptied out
            return {
                "buckets": new_buckets,
                "file_stats": self._stats_for_manifest(
                    fresh, new_dirs, new_buckets, key0
                ),
            }

        m2 = self._commit_snapshot(base, build, out_dir=out_dir)
        for d in skipped_dirs:  # redundant folds, never registered
            shutil.rmtree(d, ignore_errors=True)
        return m2["version"]

    # ------------------------------------------------------------ rescale

    def rescale_buckets(self, n_buckets_new: int) -> int:
        """Online bucket-count evolution (Iceberg's partition-spec
        evolution for the ``bucket(N, key)`` transform, applied eagerly):
        rewrite the whole table into ``n_buckets_new`` hash buckets in
        ONE snapshot commit. The admin op for a table that outgrew its
        bucket count — at 10^10 events a hot table created with 32
        buckets caps merge/compaction parallelism at 32 tasks; rescaling
        restores it without downtime:

        - readers of any pre-rescale version still see the old layout
          (old manifests keep referencing the old dirs until
          ``expire_snapshots`` reclaims them);
        - fences, max-lsn and schema carry over unchanged, so
          exactly-once batch fencing and LWW survive the rescale;
        - MOR semantics carry over: the resolved state (tombstones KEPT
          — a rescale mid-stream must not let stale stragglers
          resurrect keys) is re-clustered, key-sorted and
          bloom-filtered like compaction output;
        - the commit CASes like any other; on conflict the rewrite is
          abandoned and re-raised — bucket ids depend on the modulus,
          so rebuilding on a racer's base (merge/compact retry style)
          would register mis-bucketed dirs. Racing writers get the same
          courtesy: their retry detects the modulus change and raises
          instead of reverting it (see merge/compact conflict paths).

        Returns the new version (current version if already at
        ``n_buckets_new``)."""
        n_buckets_new = int(n_buckets_new)
        if n_buckets_new < 1:
            raise ValueError("n_buckets_new must be >= 1")
        base = self.manifest()
        if base["n_buckets"] == n_buckets_new:
            return base["version"]
        staged = self.list_staged()
        if staged:
            # staged WAP deltas are bucketed under the CURRENT modulus; a
            # rescale would strand them unpublishable. Publish or abort
            # first — failing early here beats a CommitConflict at
            # publish time with the data already rewritten.
            raise ValueError(
                f"cannot rescale with staged commits pending: {staged}; "
                "publish_staged or abort_staged them first"
            )
        pending_branches = self.branches()
        if pending_branches:
            # branch deltas are bucketed under the CURRENT modulus too —
            # same stranding hazard as staged WAP commits
            raise ValueError(
                "cannot rescale with branches pending: "
                f"{pending_branches}; fast_forward/cherry_pick_branch or "
                "delete_branch them first"
            )
        version = base["version"]
        key0 = base["key_cols"][0]
        schema = schema_from_manifest(base["schema"])
        # the new bucket is a function of the key, so the fold runs
        # inside the new layout's clustering: one shuffle, as in compact()
        df = _place_buckets(
            self.read_physical()
            .coalesce(_task_slots(self.spark))
            .withColumn(BUCKET_COL, self._bucket_expr(key0, n_buckets_new)),
            list(range(n_buckets_new)),
        )
        if base.get("write_mode", "cow") == "mor":
            df = self._fold(
                df, base,
                keys=[BUCKET_COL] + list(base["key_cols"]) + [SPREAD_COL],
                lineage=True,
            )
        out_dir = os.path.join(
            self.data_dir, f"rescale-{version + 1:06d}-{uuid.uuid4().hex[:12]}"
        )
        pkey0 = {f.name: physical_name(f) for f in schema.fields}[key0]
        self._rewrite_writer(
            self._to_physical(df.drop(SPREAD_COL), schema)
            .sortWithinPartitions(BUCKET_COL, pkey0),
            base,
        ).mode("overwrite").parquet(out_dir)
        new_buckets: dict[str, list[str]] = {}
        new_dirs: list[str] = []
        for b in range(n_buckets_new):
            bucket_dir = os.path.join(out_dir, f"{BUCKET_COL}={b}")
            if os.path.exists(bucket_dir):
                new_buckets[str(b)] = [bucket_dir]
                new_dirs.append(bucket_dir)
        # every dir is fresh — stats computed here (key and declared
        # stats columns), nothing memoized from the old layout carries
        return self._commit_snapshot(
            base,
            self._pinned(version, {
                "n_buckets": n_buckets_new,
                "buckets": new_buckets,
                "file_stats": self._stats_for_manifest(
                    {**base, "file_stats": {}}, new_dirs, new_buckets, key0
                ),
            }),
            out_dir=out_dir,
        )["version"]
