"""Read-time governance policies: column masking and row filters.

A masking policy is table metadata (an Iceberg table-property /
Snowflake-masking-policy analog): ``set_masking_policy`` commits a
metadata-only snapshot binding a column to a mask kind,
``set_row_filter`` binds a row-access predicate, and ``read_masked``
is :meth:`MiniLakeTable.read` with the bound row filter and masks
applied as Column expressions on top of the logical view. Nothing on
disk changes — the same files serve both the privileged ``read()`` and
the masked read, which is the only affordable shape at 10^10 rows
(contrast :mod:`..lake.purge`-style physical rewrite, which is for
*erasure*; masking is for *access*). Generalizes the reference's
fixed output projection (`/root/reference/utils/transform.py:139-201`
decides once what a consumer may see) into per-reader policy.

Design points:

- Policies are keyed by PHYSICAL column name in the manifest (the same
  rename-survival trick as ANALYZE stats and constraints): rename the
  column and the policy follows; drop + re-add mints a fresh physical
  name, so the old policy never latches onto the new column.
- Policies are versioned WITH the table, but time-travel reads apply
  the UNION of current and at-snapshot policies by default — pinning a
  pre-policy version must not be a PII bypass (the Snowflake/Ranger
  rule). ``read_masked(audit_replay=True)`` opts into the pure
  as-of-snapshot view: exactly what a reader at that point saw.
- Mask kinds are deterministic, JVM-side Column expressions (no Python
  in the data path): ``redact_pii`` (the functions/text.redact_pii
  regexp chain — strings only), ``hash`` (md5 of the canonical string
  form — equality-preserving so masked joins/group-bys still work),
  ``null`` (type-preserving erasure of the column for this reader).

Scale shape: pure metadata commit (CAS-retried) + per-row projection
expressions inside whole-stage codegen; zero extra shuffles, zero
extra scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.text import redact_pii
from ..schema import physical_name, schema_from_manifest
from .minilake import MiniLakeTable

MASKING_PROP = "engine.masking-policies"  # {physical_col: {"kind": ...}}
ROW_FILTER_PROP = "engine.row-filter"  # SQL predicate string

MASK_KINDS = ("redact_pii", "hash", "null")


def _field(table: MiniLakeTable, column: str) -> T.StructField:
    for f in table.schema().fields:
        if f.name == column:
            return f
    raise ValueError(f"no column {column!r} in the table schema")


def set_masking_policy(
    table: MiniLakeTable, column: str, kind: str
) -> int:
    """Bind ``kind`` to ``column`` (metadata-only CAS commit; replaces
    any existing policy on the column). Returns the committed version."""
    if kind not in MASK_KINDS:
        raise ValueError(
            f"unknown mask kind {kind!r}; expected one of {MASK_KINDS}"
        )
    f = _field(table, column)
    if kind == "redact_pii" and not isinstance(f.dataType, T.StringType):
        raise ValueError(
            f"redact_pii masks string columns; {column!r} is "
            f"{f.dataType.simpleString()}"
        )
    pcol = physical_name(f)
    return _commit_policies(
        table, lambda pols: {**pols, pcol: {"kind": kind}}
    )


def drop_masking_policy(table: MiniLakeTable, column: str) -> int:
    """Remove the policy on ``column`` (no-op commit if none bound)."""
    pcol = physical_name(_field(table, column))
    return _commit_policies(
        table, lambda pols: {k: v for k, v in pols.items() if k != pcol}
    )


def _commit_policies(table: MiniLakeTable, update) -> int:
    """Commit ``update(policies)`` as the policy map. The map is read
    from the base each CAS attempt lands on, so a retry keeps the policy
    a racing writer bound meanwhile."""
    return table._commit_snapshot(
        table.manifest(),
        lambda base: {"properties": {
            **base["properties"],
            MASKING_PROP: update(base["properties"].get(MASKING_PROP, {})),
        }},
    )["version"]


def masking_policies(
    table: MiniLakeTable, version: int | None = None
) -> dict[str, str]:
    """Live policies under LOGICAL column names at ``version`` (default
    current). Policies whose physical column was dropped fall out of
    view — they can never rebind to a re-added column of the same name."""
    m = table.manifest(version)
    raw = m.get("properties", {}).get(MASKING_PROP, {})
    schema = schema_from_manifest(m["schema"])
    to_logical = {physical_name(f): f.name for f in schema.fields}
    return {
        to_logical[p]: pol["kind"]
        for p, pol in raw.items()
        if p in to_logical
    }


def set_row_filter(table: MiniLakeTable, predicate: str) -> int:
    """Bind a row-access predicate (the Snowflake row-access-policy /
    Ranger row-filter analog): governed reads serve only rows where the
    SQL ``predicate`` holds. One filter per table (set replaces);
    evaluated against the RAW row before any column mask applies, so a
    policy may filter on a column the same reader sees masked.
    Metadata-only CAS commit; returns the committed version."""
    # fail fast on typos: resolve the predicate against the current
    # logical schema (touching .schema forces analysis, no job runs)
    try:
        table.read().filter(predicate).schema
    except Exception as e:  # noqa: BLE001 - surface the analysis error
        raise ValueError(
            f"row filter {predicate!r} does not resolve against the "
            f"table schema: {e}"
        ) from None
    return table._commit_properties({ROW_FILTER_PROP: predicate})


def drop_row_filter(table: MiniLakeTable) -> int:
    """Remove the row filter (no-op commit if none bound)."""
    return table._commit_properties({ROW_FILTER_PROP: None})


def row_filter(
    table: MiniLakeTable, version: int | None = None
) -> str | None:
    """The bound row-access predicate at ``version`` (default current),
    or None. NOTE: the predicate references LOGICAL column names as of
    when it was set — unlike per-column masks it does not auto-follow
    renames; re-set it after renaming a referenced column (setting it
    fails fast on unresolvable names, so the break is loud)."""
    m = table.manifest(version)
    return m.get("properties", {}).get(ROW_FILTER_PROP)


def _mask_expr(col: str, dtype: T.DataType, kind: str):
    if kind == "redact_pii":
        return redact_pii(F.col(col))
    if kind == "hash":
        # md5 over the canonical string form: deterministic,
        # equality-preserving (masked joins/group-bys still line up),
        # and oracle-reproducible (DuckDB md5 agrees byte-for-byte).
        return F.md5(F.col(col).cast("string"))
    if kind == "null":
        return F.lit(None).cast(dtype)
    raise ValueError(f"unknown mask kind {kind!r}")  # pragma: no cover


def read_masked(
    table: MiniLakeTable, audit_replay: bool = False, **read_kwargs
) -> DataFrame:
    """:meth:`MiniLakeTable.read` with the governance policies applied:
    first the row filter (evaluated on raw values), then the column
    masks. ``hash`` rewrites the column to its md5 string form (the
    masked type is string); ``null`` and ``redact_pii`` preserve the
    column's type.

    Time-travel reads (``version``/``tag``/``as_of_ts``/``branch``)
    apply the UNION of the policies committed at that snapshot and the
    CURRENT ones (current kind wins on a doubly-policied column, joined
    on physical column identity so renames cannot unbind a mask). This
    is the Snowflake/Ranger semantics the module cites: without it any
    governed reader could pin a pre-policy version and read raw PII
    until retention expires the snapshot. ``audit_replay=True`` opts
    into the policies-as-of-snapshot view ("what did a reader at that
    point in history see") — an audit tool's call, not a default."""
    version = read_kwargs.get("version")
    if version is None and read_kwargs.get("tag") is not None:
        version = table.tag_version(read_kwargs["tag"])
    if version is None and read_kwargs.get("as_of_ts") is not None:
        version = table.version_as_of(read_kwargs["as_of_ts"])
    if version is None and read_kwargs.get("branch") is not None:
        # branch reads serve the BASE snapshot's schema/state plus the
        # branch commits — policies must resolve at that same base, or
        # a post-branch rename on main would silently unbind a mask
        # from the branch reader's view
        version = table._load_branch(read_kwargs["branch"])["base_version"]
    preds: list[str] = []
    pin = row_filter(table, version=version)
    if pin is not None:
        preds.append(pin)
    if version is not None and not audit_replay:
        cur = row_filter(table)
        if cur is not None and cur not in preds:
            # the current filter applies to historical reads too; if it
            # references a column the pinned schema doesn't know, the
            # analysis error surfaces loudly rather than serving rows
            # the live policy forbids
            preds.append(cur)
    requested = read_kwargs.pop("columns", None)
    if preds and requested is not None:
        # the filter evaluates on the RAW row, which may reference
        # columns outside the requested projection — read unprojected,
        # filter, then project (correctness over scan pruning here)
        df = table.read(**read_kwargs)
    else:
        if requested is not None:
            read_kwargs["columns"] = requested
        df = table.read(**read_kwargs)
    for pred in preds:
        df = df.filter(pred)
    out_cols = requested if requested is not None else df.columns
    policies = masking_policies(table, version=version)
    if version is not None and not audit_replay:
        # union on PHYSICAL identity, mapped to the pinned snapshot's
        # logical names (the frame being read carries those); current
        # policies on columns born after the pinned snapshot have
        # nothing to bind to there and drop out
        m_pin = table.manifest(version)
        to_logical = {
            physical_name(f): f.name
            for f in schema_from_manifest(m_pin["schema"]).fields
        }
        raw_pin = m_pin.get("properties", {}).get(MASKING_PROP, {})
        raw_cur = table.manifest().get("properties", {}).get(
            MASKING_PROP, {}
        )
        merged = {**raw_pin, **raw_cur}
        policies = {
            to_logical[p]: pol["kind"]
            for p, pol in merged.items()
            if p in to_logical
        }
    if not policies:
        return df.select(*out_cols)
    schema = table.schema(version)
    dtypes = {f.name: f.dataType for f in schema.fields}
    return df.select(
        *[
            (
                _mask_expr(c, dtypes[c], policies[c]).alias(c)
                if c in policies
                else F.col(c)
            )
            for c in out_cols
        ]
    )
