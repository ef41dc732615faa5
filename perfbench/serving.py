"""Serving-side workloads: open-loop streaming freshness and a closed-loop
read/write mix. Same ``Ctx`` → ``Result`` contract as ``workloads.py``.

Neither is listed in ``BENCHMARK.json``: a comparison repeats every gated
workload dozens of times, and on a 4-core host one run of either of these
takes over a minute (see ``WORKLOADS.md``). They run by name, and with
``--workload all``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import replace

import numpy as np

import gen
import measure as tr
from workloads import (
    KEY_COLS,
    Result,
    _mor_table,
    _setup_reps,
    _start_after,
    _state_matches,
    log,
    pq_rows,
)

# --------------------------------------------------------- stream_freshness

STREAM_FILE_EVENTS = 1_000
STREAM_FILES_PER_S = 1.0  # the fixed offered rate: 1,000 events/s
STREAM_CONVS = 400


def _stream_config(seed: int, n_files: int):
    from etl_pipeline_spark.sources.genlog import GenConfig

    # the 2% duplicate deliveries trail the stream; size the event count so
    # that duplicates included it fills exactly n_files files
    return GenConfig(
        seed=seed,
        n_events=int(n_files * STREAM_FILE_EVENTS / 1.02),
        n_conversations=STREAM_CONVS,
        max_turns=20,
        batch_size=STREAM_FILE_EVENTS,
        hot_key_fraction=0.5,
        shuffle_window=200,
        dup_delivery_rate=0.02,
        dead_letter_rate=0.01,
        evolution_batch=n_files // 2,
    )


def _v0_table(spark, root: str):
    from etl_pipeline_spark.lake.minilake import MiniLakeTable
    from etl_pipeline_spark.schema import TRANSCRIPT_SCHEMA_V0

    return MiniLakeTable.create(
        spark, root, TRANSCRIPT_SCHEMA_V0, key_cols=KEY_COLS, n_buckets=32,
        write_mode="mor",
    )


def _batch_files(ckpt: str) -> dict[int, list[str]]:
    """Micro-batch id → the changelog files it read, from the file source's
    metadata log. Every tenth entry is a ``.compact`` file listing all
    files so far; subtracting what earlier batches read recovers the
    batch's own files."""
    out: dict[int, list[str]] = {}
    seen: set[str] = set()
    src = os.path.join(ckpt, "sources", "0")
    ids = sorted(int(n.split(".")[0]) for n in os.listdir(src) if n[0].isdigit())
    for bid in ids:
        path = os.path.join(src, str(bid))
        if not os.path.exists(path):
            path += ".compact"
        files = []
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    files.append(os.path.basename(json.loads(line)["path"]))
        out[bid] = [f for f in files if f not in seen]
        seen.update(files)
    return out


def stream_freshness(ctx) -> Result:
    """Open loop: a feeder thread publishes pre-generated change files on a
    fixed schedule while ``run_ingest_stream(available_now=False)`` ingests
    them; each file's freshness runs from its due time to the commit that
    makes it visible."""
    import pandas as pd

    from etl_pipeline_spark.lake.lineage import LineageLog
    from etl_pipeline_spark.pipeline import apply_batch
    from etl_pipeline_spark.streaming.ingest import run_ingest_stream

    res = Result()
    n_files = max(int(ctx.seconds * STREAM_FILES_PER_S), 20)
    cfg = _stream_config(ctx.seed, n_files)

    def prepare():
        inp, gen_s, _ = gen.changelog(ctx.cache, "stream", cfg)
        return inp, gen_s

    start_s, (inp, gen_s) = _start_after(ctx, prepare)
    staged = sorted(glob.glob(os.path.join(inp, "clog", "*.parquet")))
    oracle = pd.read_parquet(os.path.join(inp, "oracle.parquet"))
    spark = ctx.spark
    work = os.path.join(ctx.run_dir, "stream")
    watch = os.path.join(work, "in")
    os.makedirs(watch)

    with tr.RssSampler() as rss:
        def setup(i: int) -> None:
            t = _v0_table(spark, os.path.join(work, f"warm{i}"))
            apply_batch(t, spark.read.parquet(staged[i]), 0)

        reps = _setup_reps(setup)
        table = _v0_table(spark, os.path.join(work, "table"))
        ckpt = os.path.join(work, "ckpt")
        query = run_ingest_stream(
            spark, watch, table, ckpt, max_files_per_trigger=None,
            available_now=False, await_termination=False,
        )
        period = 1.0 / STREAM_FILES_PER_S
        t_start = time.time() + 1.0
        due = [t_start + i * period for i in range(len(staged))]
        published: list[float] = []

        def feeder() -> None:
            for path, t_due in zip(staged, due):
                time.sleep(max(0.0, t_due - time.time()))
                # a hard link appears atomically with its whole content
                os.link(path, os.path.join(watch, os.path.basename(path)))
                published.append(time.time())

        feed = threading.Thread(target=feeder)
        cpu0 = tr.tree_cpu_s()
        feed.start()
        lineage = LineageLog(table.root)
        last = os.path.basename(staged[-1])
        deadline = due[-1] + 120.0
        try:
            # stop once the batch that read the last file has committed
            while time.time() < deadline:
                if not feed.is_alive():
                    b = {f: b for b, fs in _batch_files(ckpt).items() for f in fs}.get(last)
                    try:
                        done = b is not None and any(
                            r.get("batch_id") == b and "events_in" in r
                            for r in lineage.records()
                        )
                    except ValueError:  # a line still being appended
                        done = False
                    if done:
                        break
                time.sleep(0.1)
            progress = list(query.recentProgress)
            cpu = tr.tree_cpu_s() - cpu0
        finally:
            query.stop()
            feed.join()
        t_end = time.time()

    # files → micro-batch (checkpoint source log) → commit (lineage) → time
    # (history); the changelog's LSN ranges overlap across files because
    # late duplicates re-deliver old LSNs, so they cannot identify files.
    commit_at = {m["version"]: m["committed_at"] for m in table.history()}
    recs = [r for r in lineage.records() if "events_in" in r]
    version_of = {r["batch_id"]: r["commit_version"] for r in recs}
    file_batch = {f: b for b, fs in _batch_files(ckpt).items() for f in fs}
    visible = []
    for path in staged:
        b = file_batch.get(os.path.basename(path))
        v = version_of.get(b)
        visible.append(commit_at.get(v) if v is not None else None)
    res.check(all(v is not None for v in visible), len(staged),
              "stream_freshness: a published file never became visible")
    fresh = [v - d for v, d in zip(visible, due) if v is not None]
    late_ms = [(p - d) * 1000 for p, d in zip(published, due)]
    backlog = [
        sum(1 for p2, v in zip(published, visible) if p2 <= p and (v is None or v > p))
        for p in published
    ]
    files_per_trigger = [len(fs) for fs in _batch_files(ckpt).values()]
    overhead_ms = [
        p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
        for p in progress if p.get("numInputRows", 0) > 0
    ]

    ok, why = _state_matches(table, oracle)
    res.check(ok, 1, f"stream_freshness final state: {why}")
    log("outputs checked")

    n_events = sum(pq_rows(p) for p in staged)
    span = max(visible) - t_start if all(visible) else t_end - t_start
    res.e2e = {
        "setup_s": (start_s + tr.median(reps), "s", len(reps)),
        "pass_cpu_s": (cpu, "s", 1),
        "peak_rss_mb": (rss.peak / 2**20, "MB", 1),
    }
    res.named = {
        "freshness_p50_s": (tr.median(fresh), "s", len(fresh)),
        "freshness_tail_s": _tail(fresh, "s"),
        "offered_events_per_s": (STREAM_FILES_PER_S * STREAM_FILE_EVENTS, "1/s", 1),
        "committed_events_per_s": (n_events / span, "1/s", 1),
        "streaming.triggers": (len(recs), "count", 1),
        "streaming.files_per_trigger_p50": (
            tr.median(files_per_trigger), "count", len(files_per_trigger)),
        "streaming.trigger_overhead_ms_p50": (
            tr.median(overhead_ms), "ms", len(overhead_ms)),
        "streaming.backlog_files_max": (max(backlog, default=0), "count", len(backlog)),
        "streaming.feeder_late_ms_max": (max(late_ms, default=0.0), "ms", len(late_ms)),
        "pipeline.dead_lettered": (sum(r["dead_lettered"] for r in recs), "count", 1),
        "sources.gen_s": (gen_s, "s", 1),
        "sources.input_bytes": (sum(os.path.getsize(p) for p in staged), "B", 1),
    }
    return res


# ---------------------------------------------------------- read_write_mix

MIX_SEED_EVENTS = 200_000
MIX_WRITE_EVENTS = 2_000
MIX_WRITES = 40  # pool of write batches; a run uses as many as it has time for
MIX_CONVS = 2_000
MIX_LOOKUP_CONVS = 50
MIX_NET_WINDOW = 3  # net_changes spans the last three writes
MIX_COMPACT_FILES = 4  # maybe_compact threshold, applied after every write


def _mix_configs(seed: int):
    from etl_pipeline_spark.sources.genlog import GenConfig

    base = GenConfig(
        seed=seed, n_events=MIX_SEED_EVENTS, n_conversations=MIX_CONVS,
        max_turns=50, batch_size=MIX_SEED_EVENTS, hot_key_fraction=0.2,
        shuffle_window=1000, dup_delivery_rate=0.01,
    )
    writes = replace(
        base, seed=seed + 1, n_events=MIX_WRITES * MIX_WRITE_EVENTS,
        batch_size=MIX_WRITE_EVENTS, dup_delivery_rate=0.0,
        lsn_offset=10 * MIX_SEED_EVENTS,
    )
    return base, writes


def _tail(values, unit: str) -> tuple:
    """Report entry for the highest percentile with ten samples beyond
    it, or for the maximum when that percentile would not lie above the
    median."""
    t = tr.tail(values)
    if t is None or t[0] <= 50:
        return max(values, default=0.0), unit, f"{len(values)} (max)"
    return t[1], unit, f"{len(values)} (p{t[0]:.0f})"


def _norm(df, cols) -> list[tuple]:
    """Rows of ``df[cols]`` as tuples, with every missing value as None."""
    import pandas as pd

    return [
        tuple(None if v is None or (not isinstance(v, str) and pd.isna(v)) else v
              for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]


def read_write_mix(ctx) -> Result:
    """Closed loop, one client: each cycle writes one small batch through
    ``apply_batch`` and then runs a fixed mix of reads against the table a
    set-up replay seeded."""
    import pandas as pd

    from etl_pipeline_spark.pipeline import ApplyConfig, apply_batch
    from etl_pipeline_spark.sources.genlog import expected_final_state
    from etl_pipeline_spark.streaming.ingest import replay_files

    res = Result()
    base_cfg, write_cfg = _mix_configs(ctx.seed)

    def prepare():
        seed_inp, gen_a, _ = gen.changelog(ctx.cache, "mixseed", base_cfg)
        write_inp, gen_b, _ = gen.changelog(ctx.cache, "mixwrites", write_cfg)
        return seed_inp, write_inp, gen_a + gen_b

    start_s, (seed_inp, write_inp, gen_s) = _start_after(ctx, prepare)
    writes = sorted(glob.glob(os.path.join(write_inp, "clog", "*.parquet")))
    spark = ctx.spark
    work = os.path.join(ctx.run_dir, "mix")
    cfg = ApplyConfig(auto_compact_max_files=MIX_COMPACT_FILES)
    rng = np.random.default_rng(ctx.seed)
    conv_ids = [f"conv-{i:06d}" for i in range(MIX_CONVS)]

    with tr.RssSampler() as rss:
        tables = []

        def setup(i: int) -> None:
            t = _mor_table(spark, os.path.join(work, f"table{i}"))
            replay_files(spark, os.path.join(seed_inp, "clog"), t, cfg=cfg,
                         pipeline_depth=2)
            t.compact(drop_tombstones=False)
            tables.append(t)

        reps = _setup_reps(setup)
        table = tables[-1]
        ops: dict[str, list[float]] = {k: [] for k in ("write", "lookup", "changes", "net", "scan")}
        seen: list[dict] = []
        versions = [table.current_version()]
        cycle_cpu: list[float] = []
        cycle_s: list[float] = []

        def timed(kind: str, fn):
            a = time.perf_counter()
            out = fn()
            ops[kind].append((time.perf_counter() - a) * 1000)
            return out

        t_start = time.time()
        for i, path in enumerate(writes):
            if i and time.time() - t_start >= ctx.seconds:
                break
            before = table.current_version()
            cpu0 = tr.tree_cpu_s()
            c0 = time.perf_counter()
            timed("write", lambda: apply_batch(
                table, spark.read.parquet(path), i, cfg=cfg, stream_id="mix"))
            versions.append(table.current_version())
            keys = sorted(rng.choice(conv_ids, MIX_LOOKUP_CONVS, replace=False))
            frm = versions[max(0, len(versions) - 1 - MIX_NET_WINDOW)]
            seen.append({
                "keys": keys,
                "lookup": timed("lookup", lambda: table.read_for_keys(keys).toPandas()),
                "changes": timed("changes", lambda: table.read_changes_since(before).toPandas()),
                "net": timed("net", lambda: table.net_changes(frm).toPandas()),
                "net_from": len(versions) - 1 - MIX_NET_WINDOW,
                "scan": timed("scan", lambda: table.read().toPandas()),
            })
            cycle_cpu.append(tr.tree_cpu_s() - cpu0)
            cycle_s.append(time.perf_counter() - c0)
            log(f"cycle {i + 1}: " + ", ".join(f"{k} {v[-1]:.0f}ms" for k, v in ops.items()))
        t_end = time.time()

    # oracle state after each prefix of writes
    seed_events = pd.concat(
        [pd.read_parquet(p) for p in glob.glob(os.path.join(seed_inp, "clog", "*.parquet"))],
        ignore_index=True,
    )
    applied = [pd.read_parquet(p) for p in writes[: len(seen)]]
    states = [expected_final_state(seed_events)]
    for i in range(len(seen)):
        states.append(expected_final_state(pd.concat([seed_events, *applied[: i + 1]], ignore_index=True)))
    payload = ["role", "text", "tool", "ts"]
    for i, got in enumerate(seen):
        exp = states[i + 1]
        scan = got["scan"].sort_values(KEY_COLS).reset_index(drop=True)
        res.check(_norm(scan, KEY_COLS + ["text"]) == _norm(exp, KEY_COLS + ["text"]),
                  1, f"read_write_mix scan after write {i}")
        lk = got["lookup"].sort_values(KEY_COLS).reset_index(drop=True)
        exp_lk = exp[exp["conv_id"].isin(got["keys"])].reset_index(drop=True)
        res.check(_norm(lk, KEY_COLS + ["text"]) == _norm(exp_lk, KEY_COLS + ["text"]),
                  1, f"read_write_mix lookup after write {i}")
        valid = applied[i].dropna(subset=KEY_COLS)
        n_keys = len(valid[valid["op"].isin(["I", "U", "D"])][KEY_COLS].drop_duplicates())
        res.check(len(got["changes"]) == n_keys, 1,
                  f"read_write_mix changes after write {i}: {len(got['changes'])} != {n_keys}")
        a, b = states[max(0, got["net_from"])], exp
        ka = {k: r for k, r in zip(_norm(a, KEY_COLS), _norm(a, payload))}
        kb = {k: r for k, r in zip(_norm(b, KEY_COLS), _norm(b, payload))}
        n_net = len(kb.keys() - ka.keys()) + len(ka.keys() - kb.keys()) + sum(
            ka[k] != kb[k] for k in ka.keys() & kb.keys())
        res.check(len(got["net"]) == n_net, 1,
                  f"read_write_mix net_changes after write {i}: {len(got['net'])} != {n_net}")
    log("outputs checked")

    all_ops = [v for vs in ops.values() for v in vs]
    res.e2e = {
        "setup_s": (start_s + tr.median(reps), "s", len(reps)),
        "pass_cpu_s": (tr.median(cycle_cpu), "s", len(cycle_cpu)),
        "peak_rss_mb": (rss.peak / 2**20, "MB", 1),
    }
    res.named = {
        "write_p50_ms": (tr.median(ops["write"]), "ms", len(ops["write"])),
        "write_tail_ms": _tail(ops["write"], "ms"),
        "lookup_p50_ms": (tr.median(ops["lookup"]), "ms", len(ops["lookup"])),
        "changes_p50_ms": (tr.median(ops["changes"]), "ms", len(ops["changes"])),
        "net_changes_p50_ms": (tr.median(ops["net"]), "ms", len(ops["net"])),
        "scan_p50_ms": (tr.median(ops["scan"]), "ms", len(ops["scan"])),
        "table_rows": (len(states[-1]), "count", 1),
        "cycle_s": (tr.median(cycle_s), "s", len(cycle_s)),
        "operations_per_s": (len(all_ops) / (t_end - t_start), "1/s", len(all_ops)),
        "sources.gen_s": (gen_s, "s", 1),
    }
    return res


WORKLOADS = {
    "stream_freshness": stream_freshness,
    "read_write_mix": read_write_mix,
}
