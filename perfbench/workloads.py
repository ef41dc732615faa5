"""The benchmark's gated workloads. Each takes a ``run.Ctx`` and returns a
``Result``; ``WORKLOADS.md`` records why each one exists.

Every workload reports the same end-to-end metrics, each meaning the
workload's own unit of work:

- ``setup_s``: session start plus the median of ``SETUP_REPS``
  repetitions of the workload's warm-up. Input generation and the oracle
  run to completion before the session starts, and are not counted
  (generation is reported as ``sources.gen_s``).
- ``pass_cpu_s``: CPU seconds the whole process tree (driver, JVM, Python
  workers, and children they reaped) spends on one unit of timed work —
  one replay round of the whole changelog (``bulk_replay``), one warm
  pass over the queries (``analytics_queries``). Wall time for the same
  unit (``replay_events_per_s``, ``analytics_pass_s``) is in the report
  but not gated: on a shared host it spreads about twice as wide as CPU
  time, because time the hypervisor steals is charged to no process.
- ``peak_rss_mb``: the largest resident memory of the whole process tree
  (driver, JVM, Python workers), counted as PSS so that pages the forked
  Python workers share are counted once.

The report above the result line adds each workload's own figures: wall
and CPU seconds per unit of work, per-operation medians, bytes stored.
"""

from __future__ import annotations

import contextlib
import glob
import math
import os
import sys
import time

import gen
import measure as tr

# --------------------------------------------------------------- result


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, tuple[float, str, int]] = {}
        self.named: dict[str, tuple[float, str, int]] = {}
        self.layer: dict[str, float] = {}
        self.notes: list[str] = []

    def check(self, ok: bool, n: int = 1, what: str = "") -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            self.notes.append(f"INCORRECT: {what}")

    def report(self, workload: str, machine: dict) -> None:
        print(f"== {workload}  machine: {machine}")
        err = self.failed / max(self.attempted, 1)
        print(f"  {'error_rate':<34} {err:>14.6f} ratio       n={self.attempted}")
        for name, (v, unit, n) in {**self.e2e, **self.named}.items():
            print(f"  {name:<34} {v:>14.4f} {unit:<11} n={n}")
        for name in sorted(self.layer):
            print(f"  {name:<34} {self.layer[name]:>14.4f}")
        for note in self.notes:
            print(f"  {note}")

    def result_line(self, traced: bool) -> dict:
        metrics = (
            {k: {"value": v, "unit": _layer_unit(k)} for k, v in self.layer.items()}
            if traced
            else {k: {"value": v, "unit": u} for k, (v, u, _) in self.e2e.items()}
        )
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def _layer_unit(name: str) -> str:
    for suffix, unit in (
        ("_ms_p50", "ms"), ("_ms", "ms"), ("_per_s", "1/s"), ("_s", "s"),
        ("_bytes", "B"), ("_per_event", "B"), ("_per_row", "B"),
        ("_share", "ratio"), ("_overlap", "ratio"), ("_amp", "ratio"),
        ("_skew", "ratio"), ("_1_to_n", "ratio"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


# ----------------------------------------------------- per-layer metrics

QUERY_NAMES = [
    "cdc_lww_state",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "top_orders_per_customer",
    "events_sessionization",
    "events_hourly_stats",
    "docs_exact_dedup",
    "docs_minhash_near_dups",
    "emb_knn_bruteforce",
    "purchase_views_within_hour",
    "user_event_paths",
]

# Every traced run reports every per-layer metric; a layer a workload
# does not reach reads 0 there (that is the "no change" prediction).
LAYER_METRICS = [
    "session.start_s", "session.warmup_s",
    "sources.gen_s", "sources.input_bytes", "sources.input_bytes_per_event",
    "streaming.replay_overlap",
    "pipeline.apply_batch_ms_p50", "pipeline.apply_batch_self_ms_p50",
    "pipeline.jobs_per_batch", "pipeline.events_per_batch",
    "pipeline.dead_lettered", "pipeline.add_columns_ms",
    "operators.skew_probes", "operators.skew_probe_ms",
    "operators.salted_batches",
    "functions.cleaning_rows", "functions.cleaning_python_bytes",
    "lake.merge_ms_p50", "lake.merge_shuffle_write_bytes",
    "lake.merge_task_skew", "lake.buckets_touched_p50",
    "lake.compact_ms", "lake.maybe_compact_ms", "lake.maybe_compact_folds",
    "lake.delta_chain_max", "lake.write_amp", "lake.files_live",
    "lake.stored_bytes_per_row", "lake.lineage_append_ms",
    "lake.manifest_bytes",
    *[f"queries.{q}_s" for q in QUERY_NAMES], "queries.spill_bytes",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.cpu_busy_share",
    "spark.gc_share", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "trace.overhead_share", "trace.uncovered_share",
    "scaling.bulk_1core_events_per_s", "scaling.efficiency_1_to_n",
]


def _spark_metrics(log: tr.EventLog, t0: float, t1: float, cores: int) -> dict:
    tasks = log.tasks_between(t0, t1)
    run_ms = sum(t["run_ms"] for t in tasks)
    return {
        "spark.jobs": len(log.jobs_between(t0, t1)),
        "spark.stages": len({t["stage"] for t in tasks}),
        "spark.tasks": len(tasks),
        "spark.cpu_busy_share": sum(t["cpu_ns"] for t in tasks)
        / 1e9 / ((t1 - t0) * cores),
        "spark.gc_share": sum(t["gc_ms"] for t in tasks) / run_ms if run_ms else 0.0,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
    }


def _descendants(spans: list[dict], roots: set[int]) -> set[int]:
    out = set(roots)
    grew = True
    while grew:
        grew = False
        for s in spans:
            if s["parent"] in out and s["id"] not in out:
                out.add(s["id"])
                grew = True
    return out


def _uncovered(spans: list[dict], t0: float, t1: float) -> float:
    covered = tr.union_length(
        (max(s["t0"], t0), min(s["t1"], t1))
        for s in spans if s["t1"] > t0 and s["t0"] < t1
    )
    return max(0.0, 1.0 - covered / (t1 - t0))


SETUP_REPS = 3


def _setup_reps(fn) -> list[float]:
    """Seconds of each of ``SETUP_REPS`` calls ``fn(0)``, ``fn(1)``, …"""
    out = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        fn(i)
        out.append(time.perf_counter() - t0)
    log(f"set-up repetitions {[round(x, 2) for x in out]}")
    return out


def _start_after(ctx, prepare):
    """Make the inputs and their oracle with ``prepare()``, then start the
    session; returns ``(session start seconds, prepare's result)``. The
    two run one after the other, so that neither generation nor the oracle
    competes with the session start for the CPU."""
    out = prepare()
    log("inputs ready")
    start_s = ctx.start_session()
    log(f"session started in {start_s:.2f}s")
    return start_s, out


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries the report)."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


# ------------------------------------------------------------ bulk_replay

# 494k events plus their ~1% duplicate deliveries (about 4,940, sd 70)
# fill exactly two 250k-event files on every seed
BULK_EVENTS = 494_000
BULK_FILE_EVENTS = 250_000
N_BUCKETS = 32
PIPELINE_DEPTH = 2
KEY_COLS = ["conv_id", "turn_idx"]


def _bulk_config(seed: int):
    from etl_pipeline_spark.sources.genlog import GenConfig

    return GenConfig(
        seed=seed,
        n_events=BULK_EVENTS,
        n_conversations=BULK_EVENTS // 400,
        max_turns=50,
        batch_size=BULK_FILE_EVENTS,
        hot_key_fraction=0.2,
        shuffle_window=1000,
        dup_delivery_rate=0.01,
    )


def _warm_config(seed: int):
    """A 100th of the bulk changelog in one file: each set-up repetition
    runs the timed round's code paths (apply, compaction) once."""
    from dataclasses import replace

    cfg = _bulk_config(seed + 1_000_000)
    return replace(cfg, n_events=cfg.n_events // 100, batch_size=cfg.batch_size // 25)


def _mor_table(spark, root: str):
    from etl_pipeline_spark.lake.minilake import MiniLakeTable
    from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA

    return MiniLakeTable.create(
        spark, root, TRANSCRIPT_SCHEMA, key_cols=KEY_COLS,
        n_buckets=N_BUCKETS, write_mode="mor",
    )


def _replay(spark, clog: str, table) -> None:
    from etl_pipeline_spark.pipeline import ApplyConfig
    from etl_pipeline_spark.streaming.ingest import replay_files

    replay_files(
        spark, clog, table, cfg=ApplyConfig(lineage_level="batch"),
        pipeline_depth=PIPELINE_DEPTH,
    )


def _live_files(table) -> list[str]:
    m = table.manifest()
    return [
        f
        for dirs in m["buckets"].values()
        for d in dirs
        for f in glob.glob(os.path.join(d, "*.parquet"))
    ]


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )


def _state_matches(table, oracle) -> tuple[bool, str]:
    """Engine state equals the oracle: same (conv_id, turn_idx) keys in
    order, and per turn the same cleaned ``text``."""
    eng = (
        table.read().select(*KEY_COLS, "text").toPandas()
        .sort_values(KEY_COLS).reset_index(drop=True)
    )
    if len(eng) != len(oracle):
        return False, f"{len(eng)} rows, oracle has {len(oracle)}"
    for col in (*KEY_COLS, "text"):
        a = eng[col].astype(object).where(eng[col].notna(), None).tolist()
        b = oracle[col].astype(object).where(oracle[col].notna(), None).tolist()
        if a != b:
            i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
            return False, f"{col} differs at row {i}: {a[i]!r} != {b[i]!r}"
    return True, ""


def _install_cdc_tracer(tracer: tr.Tracer) -> None:
    import etl_pipeline_spark.pipeline as pipeline
    import etl_pipeline_spark.streaming.ingest as ingest
    from etl_pipeline_spark.lake.lineage import LineageLog
    from etl_pipeline_spark.lake.minilake import MiniLakeTable

    # apply_batch is looked up in the ingest module by its drivers and in
    # the pipeline module by direct callers; detect_hot_keys is looked up
    # in the pipeline module by apply_batch.
    tracer.wrap(ingest, "apply_batch", "pipeline.apply_batch")
    tracer.wrap(pipeline, "apply_batch", "pipeline.apply_batch")
    tracer.wrap(pipeline, "detect_hot_keys", "operators.detect_hot_keys")
    for meth in ("merge", "compact", "maybe_compact", "add_columns", "read",
                 "read_for_keys", "read_changes_since", "net_changes"):
        tracer.wrap(MiniLakeTable, meth, f"lake.{meth}")
    tracer.wrap(LineageLog, "append", "lake.lineage_append")


def bulk_replay(ctx) -> Result:
    """Batch replay of a seeded changelog into a fresh MOR table, then the
    final compaction; repeated on fresh tables until ``--seconds`` pass.
    The traced run replays three times — untraced, traced, untraced — and
    measures the tracing overhead against the mean of the two neighbours."""
    import pandas as pd

    from etl_pipeline_spark.lake.lineage import LineageLog

    res = Result()

    def prepare():
        inp, gen_s, _ = gen.changelog(ctx.cache, "bulk", _bulk_config(ctx.seed))
        warm, _, _ = gen.changelog(ctx.cache, "warm", _warm_config(ctx.seed))
        return inp, gen_s, warm, pd.read_parquet(os.path.join(inp, "oracle.parquet"))

    start_s, (inp, gen_s, warm, oracle) = _start_after(ctx, prepare)
    clog = os.path.join(inp, "clog")
    input_bytes = _tree_bytes(clog)
    n_events = sum(
        pq_rows(p) for p in glob.glob(os.path.join(clog, "*.parquet"))
    )
    tables = os.path.join(ctx.run_dir, "tables")
    spark = ctx.spark

    with tr.RssSampler() as rss:
        def setup(i: int) -> None:
            t = _mor_table(spark, os.path.join(tables, f"warm{i}"))
            _replay(spark, os.path.join(warm, "clog"), t)
            t.compact(drop_tombstones=False)

        reps = _setup_reps(setup)

        def one_round(tracer: tr.Tracer | None = None) -> dict:
            i = len(rounds) + (traced is not None)
            table = _mor_table(spark, os.path.join(tables, f"round{i}"))
            span = tracer.span if tracer else _no_span
            cpu0 = tr.tree_cpu_s()
            t0 = time.time()
            with span("bench.replay"):
                _replay(spark, clog, table)
            chain = max(len(d) for d in table.manifest()["buckets"].values())
            with span("bench.final_compact"):
                table.compact(drop_tombstones=False)
            t1 = time.time()
            cpu = tr.tree_cpu_s() - cpu0
            log(f"round {i + 1}{' (traced)' if tracer else ''}: {t1 - t0:.2f}s, "
                f"{cpu:.1f} CPU s")
            return {"table": table, "t0": t0, "t1": t1, "chain": chain, "cpu": cpu}

        rounds: list[dict] = []
        traced = None
        if ctx.trace:
            tracer = tr.Tracer(spark.sparkContext)
            rounds.append(one_round())
            _install_cdc_tracer(tracer)
            traced = one_round(tracer)
            tracer.unwrap_all()
            rounds.append(one_round())
        else:
            t_start = time.time()
            while not rounds or time.time() - t_start < ctx.seconds:
                rounds.append(one_round())

    walls = [r["t1"] - r["t0"] for r in rounds]
    batch_ms = []
    for r in rounds + ([traced] if traced else []):
        ok, why = _state_matches(r["table"], oracle)
        res.check(ok, 1, f"bulk_replay final state: {why}")
        recs = [x for x in LineageLog(r["table"].root).records() if "events_in" in x]
        res.check(sum(x["events_in"] for x in recs) == n_events, len(recs),
                  "bulk_replay lineage event count")
        if r is not traced:
            batch_ms += [x["wall_ms"] for x in recs]
    log("outputs checked")

    eps = [n_events / w for w in walls]
    res.e2e = {
        "setup_s": (start_s + tr.median(reps), "s", len(reps)),
        "pass_cpu_s": (tr.median([r["cpu"] for r in rounds]), "s", len(rounds)),
        "peak_rss_mb": (rss.peak / 2**20, "MB", 1),
    }
    live_bytes = sum(os.path.getsize(f) for f in _live_files(rounds[-1]["table"]))
    res.named = {
        "replay_events_per_s": (tr.median(eps), "1/s", len(eps)),
        "round_s": (tr.median(walls), "s", len(walls)),
        "batch_apply_p50_ms": (tr.median(batch_ms), "ms", len(batch_ms)),
        "stored_bytes_per_row": (live_bytes / len(oracle), "B", 1),
        "sources.gen_s": (gen_s, "s", 1),
    }
    if ctx.trace:
        scaling = _scaling(ctx, clog, os.path.join(warm, "clog"))
        ctx.stop_session()  # completes the event log
        res.layer = _bulk_layers(
            ctx, traced, tracer, gen_s, start_s, reps, input_bytes, n_events,
            walls, oracle,
        )
        res.layer.update(scaling)
        tracer.dump(os.path.join(ctx.spans_dir, f"spans-bulk-s{ctx.seed}.jsonl"))
    return res


def _no_span(name: str):
    return contextlib.nullcontext()


def pq_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _bulk_layers(ctx, r, tracer, gen_s, start_s, reps, input_bytes, n_events,
                 walls, oracle) -> dict:
    from etl_pipeline_spark.lake.lineage import LineageLog

    elog = tr.EventLog(ctx.event_log)
    t0, t1 = r["t0"], r["t1"]
    spans = [s for s in tracer.spans if s["t0"] >= t0 and s["t1"] <= t1]
    selfs = tr.self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    dur = lambda name: [(s["t1"] - s["t0"]) * 1000 for s in by.get(name, [])]  # noqa: E731
    recs = [x for x in LineageLog(r["table"].root).records() if "events_in" in x]
    applies = by.get("pipeline.apply_batch", [])
    apply_ids = {s["id"] for s in applies}
    under_apply = _descendants(spans, apply_ids)
    jobs_apply = [j for j, v in elog.jobs.items() if v["span"] in under_apply]
    merge_ids = {s["id"] for s in by.get("lake.merge", [])}
    merge_jobs = [j for j, v in elog.jobs.items() if v["span"] in merge_ids]
    merge_stages = {sid for j in merge_jobs for sid in elog.jobs[j]["stages"]}
    tasks = elog.tasks_between(t0, t1)
    skews = []
    for j in merge_jobs:
        done = [s for s in elog.jobs[j]["stages"] if any(t["stage"] == s for t in tasks)]
        if done:
            times = [t["run_ms"] for t in tasks if t["stage"] == max(done)]
            med = tr.median(times)
            if med > 0:
                skews.append(max(times) / med)
    maybe_ids = {s["id"] for s in by.get("lake.maybe_compact", [])}
    folds = [s for s in by.get("lake.compact", []) if s["parent"] in maybe_ids]
    final_compacts = [s for s in by.get("lake.compact", []) if s["parent"] not in maybe_ids]
    replay_span = by["bench.replay"][0]
    table = r["table"]
    live = _live_files(table)
    live_bytes = sum(os.path.getsize(f) for f in live)
    untraced = tr.median(walls)
    out = dict.fromkeys(LAYER_METRICS, 0.0)
    out.update({
        "session.start_s": start_s,
        "session.warmup_s": tr.median(reps),
        "sources.gen_s": gen_s,
        "sources.input_bytes": input_bytes,
        "sources.input_bytes_per_event": input_bytes / n_events,
        "streaming.replay_overlap": sum(dur("pipeline.apply_batch")) / 1000
        / (replay_span["t1"] - replay_span["t0"]),
        "pipeline.apply_batch_ms_p50": tr.median(dur("pipeline.apply_batch")),
        "pipeline.apply_batch_self_ms_p50": tr.median(
            [selfs[s["id"]] * 1000 for s in applies]
        ),
        "pipeline.jobs_per_batch": len(jobs_apply) / max(len(applies), 1),
        "pipeline.events_per_batch": tr.median([x["events_in"] for x in recs]),
        "pipeline.dead_lettered": sum(x["dead_lettered"] for x in recs),
        "pipeline.add_columns_ms": sum(dur("lake.add_columns")),
        "operators.skew_probes": len(by.get("operators.detect_hot_keys", [])),
        "operators.skew_probe_ms": sum(dur("operators.detect_hot_keys")),
        "operators.salted_batches": sum(bool(x["salted_reduce"]) for x in recs),
        "functions.cleaning_rows": elog.sql_sum(
            tasks, "ArrowEvalPython", "number of output rows"),
        "functions.cleaning_python_bytes": elog.sql_sum(
            tasks, "ArrowEvalPython", "data sent to Python workers")
        + elog.sql_sum(tasks, "ArrowEvalPython", "data returned from Python workers"),
        "lake.merge_ms_p50": tr.median(dur("lake.merge")),
        "lake.merge_shuffle_write_bytes": sum(
            t["shuffle_write"] for t in tasks if t["stage"] in merge_stages),
        "lake.merge_task_skew": tr.median(skews),
        "lake.buckets_touched_p50": tr.median([x["buckets_touched"] for x in recs]),
        "lake.compact_ms": sum((s["t1"] - s["t0"]) * 1000 for s in final_compacts),
        "lake.maybe_compact_ms": sum(dur("lake.maybe_compact")),
        "lake.maybe_compact_folds": len(folds),
        "lake.delta_chain_max": r["chain"],
        "lake.write_amp": _tree_bytes(os.path.join(table.root, "data")) / input_bytes,
        "lake.files_live": len(live),
        "lake.stored_bytes_per_row": live_bytes / len(oracle),
        "lake.lineage_append_ms": tr.median(dur("lake.lineage_append")),
        "lake.manifest_bytes": os.path.getsize(
            table._manifest_path(table.current_version())),
        "trace.overhead_share": (t1 - t0) / untraced - 1.0,
        "trace.uncovered_share": _uncovered(spans, t0, t1),
    })
    out.update(_spark_metrics(elog, t0, t1, ctx.cores))
    return out


def _scaling(ctx, clog: str, warm_clog: str) -> dict:
    """Single-core reference (traced runs only): the first changelog file
    replayed on the running ``local[N]`` session and on a ``local[1]`` one
    in a child process — the sandbox's stand-in for the north rule's
    N→4N scaling check. Not gated."""
    import subprocess

    first = sorted(glob.glob(os.path.join(clog, "*.parquet")))[0]
    one = os.path.join(ctx.run_dir, "one-file")
    os.makedirs(one, exist_ok=True)
    os.link(first, os.path.join(one, os.path.basename(first)))
    n = pq_rows(first)
    table = _mor_table(ctx.spark, os.path.join(ctx.run_dir, "tables", "one-n"))
    t0 = time.perf_counter()
    _replay(ctx.spark, one, table)
    eps_n = n / (time.perf_counter() - t0)

    # a plain child process (not multiprocessing, whose resource tracker
    # would outlive this one); it prints the timed seconds as its last line
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__), one, warm_clog,
         os.path.join(ctx.run_dir, "one-core")],
        stdout=subprocess.PIPE, text=True, check=True,
    )
    eps_1 = n / float(child.stdout.split()[-1])
    log(f"scaling reference: local[{ctx.cores}] {eps_n:.0f}, local[1] {eps_1:.0f} events/s")
    return {
        "scaling.bulk_1core_events_per_s": eps_1,
        "scaling.efficiency_1_to_n": eps_n / (ctx.cores * eps_1),
    }


def _one_core_replay(one: str, warm_clog: str, run_dir: str) -> float:
    """In the child of ``_scaling``: warm up, then time one replay on
    ``local[1]``; returns its seconds."""
    import argparse

    import run

    ctx = run.Ctx(argparse.Namespace(seed=0, seconds=0, trace=0), run_dir=run_dir)
    try:
        ctx.start_session(cores=1)
        root = os.path.join(ctx.run_dir, "tables")
        _replay(ctx.spark, warm_clog, _mor_table(ctx.spark, os.path.join(root, "warm")))
        table = _mor_table(ctx.spark, os.path.join(root, "one"))
        t0 = time.perf_counter()
        _replay(ctx.spark, one, table)
        return time.perf_counter() - t0
    finally:
        ctx.shutdown()


# ------------------------------------------------------ analytics_queries

ANALYTICS_SF = 0.01
# timed passes per run at the least: the median of two warm passes spreads
# about half as wide between runs as a single pass
ANALYTICS_MIN_PASSES = 2


def _oracle_frames(tables_dir: str) -> dict:
    import duckdb

    from etl_pipeline_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in gen.ANALYTICS_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(tables_dir, t)}.parquet')"
            )
        return {q: con.execute(ORACLE_SQL[q]).df() for q in QUERY_NAMES}
    finally:
        con.close()


def _rounding_tol(values) -> float:
    """Allowed difference in a float column: one unit of the decimal place
    (≤ 9) its oracle values show, or none when they are all whole numbers,
    because sums of whole numbers are exact in both engines."""
    dp = 0
    for v in values:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        while dp < 9 and abs(v * 10**dp - round(v * 10**dp)) > 1e-6:
            dp += 1
    return 1.01 * 10.0**-dp if dp else 0.0


def frames_match(got, exp) -> tuple[bool, str]:
    """Order-insensitive equality of a query result and its oracle.

    Float columns are compared to within one unit of the decimal place the
    oracle rounded them to: both engines round a sum whose operands they
    add in different orders, and an exact half-way value may round either
    way. A float column of whole numbers must match exactly. Rows are
    aligned on the non-float columns first.
    """
    import pandas as pd

    if sorted(got.columns) != sorted(exp.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return False, f"{len(got)} rows, oracle has {len(exp)}"
    cols = sorted(exp.columns)
    floats = [c for c in cols if pd.api.types.is_float_dtype(exp[c])]
    order = [c for c in cols if c not in floats] + floats

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            if c in floats:
                df[c] = df[c].astype(float)
            elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
                df[c] = df[c].astype("Int64")
            else:
                df[c] = df[c].astype(object).where(df[c].notna(), None)
        return df.sort_values(order, kind="stable").reset_index(drop=True)

    g, e = norm(got), norm(exp)
    for c in cols:
        tol = _rounding_tol(e[c]) if c in floats else 0.0
        for i, (a, b) in enumerate(zip(g[c], e[c])):
            if a is None or b is None or (c not in floats and (pd.isna(a) or pd.isna(b))):
                same = (a is None or pd.isna(a)) and (b is None or pd.isna(b))
            elif c in floats:
                same = (math.isnan(a) and math.isnan(b)) or math.isclose(
                    a, b, rel_tol=1e-9, abs_tol=tol)
            else:
                same = a == b
            if not same:
                return False, f"{c}[{i}]: engine={a!r} oracle={b!r}"
    return True, ""


def _install_query_tracer(tracer: tr.Tracer, queries: dict) -> None:
    for q in QUERY_NAMES:
        tracer.wrap(queries, q, f"queries.{q}.plan")


def analytics_queries(ctx) -> Result:
    """Whole passes over the query suite's headline entries. The first,
    untimed pass collects each result for the check against its DuckDB
    oracle; the timed passes run each query to the ``noop`` sink."""
    from etl_pipeline_spark.queries import QUERIES

    res = Result()

    def prepare():
        tables_dir, gen_s, _ = gen.analytics_tables(ctx.cache, ctx.seed, ANALYTICS_SF)
        return tables_dir, gen_s, _oracle_frames(tables_dir)

    start_s, (tables_dir, gen_s, oracle) = _start_after(ctx, prepare)
    spark = ctx.spark

    with tr.RssSampler() as rss:
        def setup(i: int) -> None:
            spark.range(100_000).selectExpr("sum(id)", "count(distinct id % 97)").collect()

        reps = _setup_reps(setup)

        def one_pass(label: str, tracer: tr.Tracer | None = None) -> dict:
            span = tracer.span if tracer else _no_span
            cpu0 = tr.tree_cpu_s()
            out = {"t0": time.time(), "q": {}}
            for q in QUERY_NAMES:
                a = time.perf_counter()
                with span(f"queries.{q}"):
                    QUERIES[q](spark, tables_dir).write.format("noop").mode(
                        "overwrite").save()
                out["q"][q] = time.perf_counter() - a
            out["t1"] = time.time()
            out["cpu"] = tr.tree_cpu_s() - cpu0
            log(f"pass {label}: {out['t1'] - out['t0']:.2f}s, {out['cpu']:.1f} CPU s")
            return out

        # The first pass compiles every query (JIT, whole-stage codegen)
        # and its time swings by a third between runs: it is reported on
        # its own, and the timed passes that follow are warm. It collects
        # each result to the driver for the oracle check.
        a = time.perf_counter()
        got = {q: QUERIES[q](spark, tables_dir).toPandas() for q in QUERY_NAMES}
        first_s = time.perf_counter() - a
        log(f"pass 1 (compiling, collected): {first_s:.2f}s")
        passes: list[dict] = []
        traced = None
        if ctx.trace:
            # untraced, traced, untraced: the overhead is measured against
            # the mean of its two neighbours, which brackets the JIT's
            # continued warming
            tracer = tr.Tracer(spark.sparkContext)
            passes.append(one_pass("2"))
            _install_query_tracer(tracer, QUERIES)
            traced = one_pass("3 (traced)", tracer)
            tracer.unwrap_all()
            passes.append(one_pass("4"))
        else:
            t_start = time.time()
            while (len(passes) < ANALYTICS_MIN_PASSES
                   or time.time() - t_start < ctx.seconds):
                passes.append(one_pass(str(len(passes) + 2)))

    for q in QUERY_NAMES:
        ok, why = frames_match(got[q], oracle[q])
        res.check(ok, 1, f"{q}: {why}")
    log("outputs checked")
    walls = [p["t1"] - p["t0"] for p in passes]
    per_query = [v * 1000 for p in passes for v in p["q"].values()]
    res.e2e = {
        "setup_s": (start_s + tr.median(reps), "s", len(reps)),
        "pass_cpu_s": (tr.median([p["cpu"] for p in passes]), "s", len(passes)),
        "peak_rss_mb": (rss.peak / 2**20, "MB", 1),
    }
    res.named = {
        "analytics_pass_s": (tr.median(walls), "s", len(walls)),
        "queries_per_s": (len(QUERY_NAMES) / tr.median(walls), "1/s", len(walls)),
        "analytics_first_pass_s": (first_s, "s", 1),
        "query_p50_ms": (tr.median(per_query), "ms", len(per_query)),
        "sources.gen_s": (gen_s, "s", 1),
    }
    if ctx.trace:
        ctx.stop_session()
        elog = tr.EventLog(ctx.event_log)
        t0, t1 = traced["t0"], traced["t1"]
        tasks = elog.tasks_between(t0, t1)
        spans = [s for s in tracer.spans if s["t0"] >= t0 and s["t1"] <= t1]
        out = dict.fromkeys(LAYER_METRICS, 0.0)
        out.update({
            "session.start_s": start_s,
            "session.warmup_s": tr.median(reps),
            "sources.gen_s": gen_s,
            "sources.input_bytes": _tree_bytes(tables_dir),
            **{f"queries.{q}_s": traced["q"][q] for q in QUERY_NAMES},
            "queries.spill_bytes": sum(t["spill"] for t in tasks),
            "functions.cleaning_rows": elog.sql_sum(
                tasks, "ArrowEvalPython", "number of output rows"),
            "trace.overhead_share": (t1 - t0) / tr.median(walls) - 1.0,
            "trace.uncovered_share": _uncovered(spans, t0, t1),
        })
        out.update(_spark_metrics(elog, t0, t1, ctx.cores))
        res.layer = out
        tracer.dump(os.path.join(ctx.spans_dir, f"spans-analytics-s{ctx.seed}.jsonl"))
    return res


WORKLOADS = {
    "bulk_replay": bulk_replay,
    "analytics_queries": analytics_queries,
}


if __name__ == "__main__":  # the local[1] child of _scaling
    print(_one_core_replay(*sys.argv[1:4]))
